"""The batch robots gate must equal the per-row stdlib gate row for row.

``robots_allowed_batch`` compiles each robots text into prefix rules and
decides fast-path URLs by prefix match; everything else falls back to
``robots_allowed``. Pure Python — no Spark session.

The fast path may ONLY accept URLs whose path ``can_fetch``'s own
normalization chain returns unchanged: for every URL ``_FAST_PATH``
accepts, that chain (copied below from ``RobotFileParser.can_fetch``) must
return exactly the path the regex extracts.
"""

from __future__ import annotations

import random
import urllib.parse

import pandas as pd

from fixtures.gen import _ROBOTS_TEMPLATES, PagesSpec, gen_robots
from indigo_crawler_spark.kernels.canonicalize import canonicalize_url
from indigo_crawler_spark.kernels.robots import (
    _FAST_PATH,
    robots_allowed,
    robots_allowed_batch,
)

AGENTS = ["indigo-spark", "nomatch-bot/1.0"]

TEXTS = [
    *_ROBOTS_TEMPLATES,
    None,
    "",
    "User-agent: *\nDisallow: http://[::1/x",  # RuleLine's urlparse raises
    "\x00\x01 not robots at all :::\n\n::",
    "User-agent: *\nDisallow: *",
    "User-agent: *\nDisallow:\nDisallow: /p/2",
    "Disallow: /\nAllow: /p\nUser-agent: *\nDisallow: /p/2",  # rules before any agent
    "User-agent: indigo-spark\nDisallow: /a\n\nUser-agent: *\nDisallow: /",
    "User-agent: indigo-spark/2.0\nDisallow: /p\n\nUser-agent: *\nDisallow: /a",
    "User-agent: nomatch-bot\nDisallow: /\n\nUser-agent: *\nDisallow: /p/1",
    "User-agent: other\nDisallow: /\n",
    "User-agent: indigo\nDisallow: /a\n\nUser-agent: spark\nDisallow: /p\n",  # first group wins
    "User-agent: *\nAllow: /p/1\nDisallow: /p",
    "User-agent: *\nDisallow: /p\nAllow: /p/1",
    "User-agent: *\nAllow: /\n",
    "User-agent: *\nDisallow: /a%2Fb\nDisallow: /%7Euser\nDisallow: /caf%C3%A9",
    "User-agent: *\nDisallow: /café\nDisallow: /a b",
    "User-agent: *\nDisallow: https://h.example/p/1\nDisallow: //h.example/x",
    "User-agent: *\nDisallow: /x;p\nDisallow: /x?q\nDisallow: /*\nDisallow: /p/1$",
    "User-agent: *\nCrawl-delay: 5\nDisallow: /p/12\n\nUser-agent: indigo-spark\nAllow: /",
    "User-agent: INDIGO-SPARK\nDisallow: /\n",
    "user-agent: *\n# comment\nDISALLOW: /p # trailing\n",
]

URLS = [
    "https://h1.example.org/p/123",
    "https://h1.example.org/p/1",
    "https://h1.example.org/p/3x",
    "https://h.example",
    "https://h.example/",
    "https://h.example/a",
    "https://h.example/a%2Fb",
    "https://h.example/a/b",
    "https://h.example/%7Euser",
    "https://h.example/~user",
    "https://h.example/caf%C3%A9",
    "https://h.example/café",
    "https://h.example/x;p=1",
    "https://h.example/x?q=1",
    "https://h.example/p/1?x",
    "https://h.example/x#frag",
    "https://h.example/p/1#",
    "https://h.example//x",
    "https://h.example//",
    "https://h.example/a//b",
    "HTTPS://H.EXAMPLE/p/1",
    "Https://h.example/P/1",
    "https://u:pw@h.example/p/1",
    "https://u@h.example/a",
    "https://h.example:8443/p/1",
    "https://h.example:/p/1",
    "https://h.example:x/p/1",
    "https://[2001:db8::1]/p/1",
    "https://[%3A%3A1]/p/1",
    "https://[::1/x",
    "https://h%2Eexample/p/1",
    "https://h%2Fp/1",
    "https://h.example/%",
    "https://h.example/p/1%",
    "https://h.example/a b",
    "https://h.example/a\tb",
    " https://h.example/p/1",
    "https://h.example/p/1\n",
    "https://h.example/*",
    "https://h.example/%2A",
    "https://h.example/A-Z_~.x",
    "https://xn--caf-dma.example/p/1",
    "https://cafè.example/p/1",
    "http://h.example/./p/../p/1",
    "ftp://h.example/p/1",
    "mailto:x@h.example",
    "/p/1",
    "p/1",
    "not a url",
    "",
    None,
]


def _stdlib_path(url: str) -> str:
    # RobotFileParser.can_fetch's normalization, verbatim
    parsed_url = urllib.parse.urlparse(urllib.parse.unquote(url))
    url = urllib.parse.urlunparse(
        ("", "", parsed_url.path, parsed_url.params, parsed_url.query, parsed_url.fragment)
    )
    url = urllib.parse.quote(url)
    if not url:
        url = "/"
    return url


def _fast_path(url: str) -> str | None:
    m = _FAST_PATH.match(url)
    return None if m is None else (m.group(1) or "/")


def _check(urls, texts, agent):
    want = [robots_allowed(u, t if isinstance(t, str) else None, agent) for u, t in zip(urls, texts)]
    got = robots_allowed_batch(urls, texts, agent)
    assert got == want, [
        (u, t, g) for u, t, g, w in zip(urls, texts, got, want) if g != w
    ]


def test_batch_equals_per_row_on_adversarial_grid():
    urls = [u for u in URLS for _ in TEXTS]
    texts = [t for _ in URLS for t in TEXTS]
    for agent in AGENTS:
        _check(urls, texts, agent)
        _check(urls, texts, agent)  # compiled cache warm


def test_batch_takes_pandas_series_with_nulls():
    urls = pd.Series(["https://h.example/p/1", None, "https://h.example/q"] * 3, dtype="object")
    texts = pd.Series(
        [_ROBOTS_TEMPLATES[1], _ROBOTS_TEMPLATES[2], None, float("nan")] + [_ROBOTS_TEMPLATES[2]] * 5,
        dtype="object",
    )
    _check(urls, texts, "indigo-spark")


def test_batch_equals_per_row_on_fixture_corpus():
    n_pages, n_hosts = 3000, 150
    spec = PagesSpec(n_pages, n_hosts)
    robots = {r["host"]: r["robots_txt"] for r in gen_robots(n_hosts)}
    raw = [spec.url(i) for i in range(n_pages)]
    canon = [canonicalize_url(u) for u in raw]
    for urls in (raw, canon):
        texts = [
            robots.get(urllib.parse.urlsplit(u).hostname) if u else None for u in urls
        ]
        for agent in AGENTS:
            _check(urls, texts, agent)
    # the engine gates canonical URLs: all of them take the fast path
    assert all(_fast_path(u) is not None for u in canon)


def test_fast_path_accepts_only_unchanged_paths():
    accepted = 0
    for u in URLS:
        if isinstance(u, str) and (path := _fast_path(u)) is not None:
            accepted += 1
            assert _stdlib_path(u) == path, u
    assert accepted >= 10


def test_fast_path_fuzz():
    # random spellings over an alphabet heavy in the characters the chain
    # rewrites; every accepted one must round-trip to the extracted path
    rng = random.Random(9309)
    alphabet = "aZ09-._~/%;?#:@[]+ é\t"
    prefixes = ["https://h.example", "HTTP://H.EXAMPLE:80", "a+b.c-d://x", "https://", "https:/", "1x://h"]
    accepted = 0
    for _ in range(20000):
        tail = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 8)))
        u = rng.choice(prefixes) + tail
        path = _fast_path(u)
        if path is not None:
            accepted += 1
            assert _stdlib_path(u) == path, u
    assert accepted >= 1000
