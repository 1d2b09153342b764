"""robots.txt gate kernel — stdlib ``urllib.robotparser``, SEMANTICS.md §Round 1.

The reference validated free proxies before use; the batch analogue is the
per-(host, fetcher) admission gate: robots.txt + politeness budget
(BASELINE.json:6). Hosts without a robots row are allowed. Parsers are cached
per robots_txt within a process — both the oracle loop and each
Arrow-batch worker benefit, and the allow gate and crawl-delay kernels share
parses.

``robots_allowed`` is the per-row definition (stdlib ``can_fetch``).
``robots_allowed_batch`` is the engine's batch form of the same verdict:
each distinct text is compiled once per worker, per user agent, into the
ordered ``(prefix, allowance)`` rule list read off the parsed
``RobotFileParser``, and a row whose URL provably survives ``can_fetch``'s
normalization unchanged (``_FAST_PATH``) is decided by first-match prefix;
every other row falls back to ``robots_allowed``.
"""

from __future__ import annotations

import re
from urllib.robotparser import RobotFileParser

USER_AGENT = "indigo-spark"

_cache: dict[str, RobotFileParser] = {}


def _parser(robots_txt: str) -> RobotFileParser:
    # keyed by text alone: parsing depends only on the text, and a text-only
    # key lets the crawl-delay kernel share parses with the allow gate
    rp = _cache.get(robots_txt)
    if rp is None:
        rp = RobotFileParser()
        rp.parse(robots_txt.splitlines())
        # after the by-host shuffle each worker sees one partition's hosts,
        # so a 64k cap holds the working set without unbounded growth
        if len(_cache) > 65536:
            _cache.clear()
        _cache[robots_txt] = rp
    return rp


def robots_allowed(url: str, robots_txt: str | None, user_agent: str = USER_AGENT) -> bool:
    """True iff *url* may be fetched under *robots_txt* (None ⇒ allow)."""
    if robots_txt is None:
        return True
    try:
        return _parser(robots_txt).can_fetch(user_agent, url)
    except Exception:
        return True  # unparseable robots.txt does not block the crawl


# URLs whose path ``can_fetch`` provably leaves unchanged. can_fetch runs
# unquote → urlparse → urlunparse(('', '', path, params, query, frag)) →
# quote over the whole URL. On a match: no '%' anywhere, so unquote is the
# identity; the scheme is a plain RFC 3986 scheme and the authority a bare
# host with an optional numeric port (no userinfo, no IPv6 brackets, ASCII
# only), so urlparse splits at the first '/' and raises nothing; the path
# has no ';', '?' or '#', so params/query/fragment are empty, and it does
# not start with '//', so urlunparse returns it as is; its charset is
# quote's always-safe set plus '/', so quote is the identity too. The
# result is group 1, or '/' when the path is empty.
_FAST_PATH = re.compile(
    r"[A-Za-z][A-Za-z0-9+.\-]*://[A-Za-z0-9.\-]+(?::[0-9]*)?"
    r"((?:/(?!/)[A-Za-z0-9_.\-~/]*)?)\Z"
)

# per user agent: robots_txt → ordered (prefix, allowance) rules, or None
# when every URL is allowed
_compiled: dict[str, dict[str, tuple[tuple[str, bool], ...] | None]] = {}


def _compile(robots_txt: str, user_agent: str) -> tuple[tuple[str, bool], ...] | None:
    """The rule list ``can_fetch(user_agent, ·)`` applies under *robots_txt*,
    read off the parsed ``RobotFileParser`` (no second robots parser)."""
    try:
        rp = _parser(robots_txt)
    except Exception:
        return None  # unparseable robots.txt does not block the crawl
    if rp.disallow_all or not rp.last_checked:
        return (("", False),)
    if rp.allow_all:
        return None
    for entry in rp.entries:
        if entry.applies_to(user_agent):
            break
    else:
        entry = rp.default_entry
    if entry is None:
        return None
    rules = tuple(
        ("" if line.path == "*" else line.path, line.allowance)
        for line in entry.rulelines
    )
    # no Disallow that can match ⇒ every verdict is True
    return rules if any(not allow for _, allow in rules) else None


def robots_allowed_batch(urls, robots_txts, user_agent: str = USER_AGENT) -> list[bool]:
    """``[robots_allowed(u, t, user_agent) for u, t in zip(urls, robots_txts)]``
    with non-str texts read as None — decided by prefix match on the
    compiled rules, falling back to ``robots_allowed`` for any URL outside
    ``_FAST_PATH``."""
    compiled = _compiled.setdefault(user_agent, {})
    fast = _FAST_PATH.match
    out = []
    for url, txt in zip(urls, robots_txts):
        if not isinstance(txt, str):
            out.append(True)
            continue
        try:
            rules = compiled[txt]
        except KeyError:
            if len(compiled) > 65536:
                compiled.clear()
            rules = compiled[txt] = _compile(txt, user_agent)
        if rules is None:
            out.append(True)
            continue
        m = fast(url) if isinstance(url, str) else None
        if m is None:
            out.append(robots_allowed(url, txt, user_agent))
            continue
        path = m.group(1) or "/"
        for prefix, allow in rules:
            if path.startswith(prefix):
                out.append(allow)
                break
        else:
            out.append(True)
    return out


def robots_sitemaps(robots_txt: str | None) -> list[str]:
    """``Sitemap:`` directive URLs of *robots_txt* in file order (raw — NOT
    canonicalized), [] when none. SEMANTICS.md §Sitemaps: with
    ``cfg.sitemaps_enabled`` these are injected into the round-0 frontier
    alongside the seed list. stdlib ``robotparser.site_maps()`` semantics
    (directive is agent-independent); same parser cache as the allow gate,
    so bootstrap adds no parses beyond the gate's."""
    if robots_txt is None:
        return []
    try:
        maps = _parser(robots_txt).site_maps()
        return list(maps) if maps else []
    except Exception:
        return []


def crawl_delay(robots_txt: str | None, user_agent: str = USER_AGENT) -> float | None:
    """Crawl-delay (seconds) robots.txt declares for *user_agent*, else None.

    SEMANTICS.md §Politeness: with ``cfg.round_seconds`` > 0 the engine caps
    a host's per-round budget at max(1, floor(round_seconds / delay)) — the
    batch analogue of sleeping `delay` between sequential fetches. stdlib
    robotparser semantics (agent group match incl. ``*`` fallback);
    unparseable values → None (no cap), same shrug as robots_allowed.
    """
    if robots_txt is None:
        return None
    try:
        # shares the allow gate's parse: the parser cache is keyed by text
        d = _parser(robots_txt).crawl_delay(user_agent)
        return float(d) if d is not None else None
    except Exception:
        return None


# ---------------------------------------------------------------------------
# RFC 9309 wildcard matching — SEMANTICS.md §Robots wildcards (default OFF).
# stdlib robotparser does plain prefix matching; RFC 9309 (and every major
# production crawler) additionally honors `*` (any character sequence) and a
# trailing `$` (end anchor) inside Allow/Disallow values, with most-specific
# (longest pattern) precedence and Allow winning length ties. A real-web
# robots.txt relies on these constantly ("Disallow: /*?sessionid=",
# "Disallow: /*.pdf$"); a crawler that prefix-matches them either
# over-blocks or under-blocks. Enabled by cfg.robots_wildcards_enabled, a
# semantic knob (results change ⇒ config_hash extension field).
#
# Pinned grammar (shared by the oracle and the engine's Arrow UDF — this
# kernel IS the normative definition):
#   * lines: comments cut at the first '#'; key:value split at the first
#     ':'; keys compared lowercased/stripped; values stripped. Keys honored
#     here: user-agent, allow, disallow (sitemap/crawl-delay keep their
#     stdlib kernels regardless of the flag).
#   * groups: a run of consecutive user-agent lines opens a group;
#     allow/disallow lines attach to the open group; rules before any
#     user-agent line are ignored. Empty-valued allow/disallow lines are
#     ignored (no rule); empty-valued user-agent lines are ignored
#     (malformed — an empty agent is a substring of every crawler name and
#     would otherwise form a universal "specific" group suppressing "*").
#   * group selection: a group applies when its agent value is "*" or a
#     case-insensitive substring of the configured user agent (stdlib's
#     containment rule, kept for flag-off/on coherence); among applying
#     non-* groups the LONGEST agent value wins and all groups of that
#     length merge; with none, the "*" groups merge. No applicable group ⇒
#     allowed.
#   * match target: the url's path plus '?query' when a query is present
#     (no decoding — engine urls are already canonical); empty path ⇒ "/".
#   * pattern: matched from the start of the target; '*' spans any sequence
#     (including empty); a single TRAILING '$' anchors the end ('$'
#     anywhere else is literal). Everything else is literal.
#   * decision: among matching rules the longest pattern (character count)
#     wins; at equal length Allow beats Disallow; no matching rule ⇒
#     allowed.
#   * unparseable robots.txt ⇒ allowed (same shrug as robots_allowed).
# ---------------------------------------------------------------------------

_rfc_cache: dict[str, list[tuple[list[str], list[tuple[bool, str]]]]] = {}
_pat_cache: dict[str, "re.Pattern[str]"] = {}


def _rfc_groups(robots_txt: str) -> list[tuple[list[str], list[tuple[bool, str]]]]:
    groups = _rfc_cache.get(robots_txt)
    if groups is not None:
        return groups
    groups = []
    agents: list[str] = []
    rules: list[tuple[bool, str]] = []
    open_agents = False  # consecutive user-agent lines accumulate one group
    for raw in robots_txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not open_agents:
                if agents:
                    groups.append((agents, rules))
                agents, rules = [], []
                open_agents = True
            # an empty agent value is a malformed line, not a group member:
            # "" is a substring of EVERY configured agent, so keeping it
            # would mint a zero-length "specific" group that matches all
            # crawlers and suppresses the "*" group — one stray valueless
            # `User-agent:` line would flip the whole host's verdicts
            if value:
                agents.append(value.lower())
        elif key in ("allow", "disallow"):
            open_agents = False
            if agents and value:
                rules.append((key == "allow", value))
        else:
            open_agents = False
    if agents:
        groups.append((agents, rules))
    if len(_rfc_cache) > 65536:
        _rfc_cache.clear()
    _rfc_cache[robots_txt] = groups
    return groups


def _pattern_matches(pattern: str, target: str) -> bool:
    rx = _pat_cache.get(pattern)
    if rx is None:
        anchored = pattern.endswith("$")
        body = pattern[:-1] if anchored else pattern
        parts = [re.escape(p) for p in body.split("*")]
        rx = re.compile("^" + ".*".join(parts) + ("$" if anchored else ""))
        if len(_pat_cache) > 65536:
            _pat_cache.clear()
        _pat_cache[pattern] = rx
    return rx.match(target) is not None


def robots_allowed_rfc(
    url: str, robots_txt: str | None, user_agent: str = USER_AGENT
) -> bool:
    """True iff *url* may be fetched under *robots_txt* with RFC 9309
    wildcard semantics (None ⇒ allow). See the pinned grammar above."""
    if robots_txt is None:
        return True
    try:
        from urllib.parse import urlsplit

        groups = _rfc_groups(robots_txt)
        ua = user_agent.lower()
        specific = [
            (max(len(a) for a in agents if a != "*" and a in ua), rules)
            for agents, rules in groups
            if any(a != "*" and a in ua for a in agents)
        ]
        if specific:
            best = max(length for length, _ in specific)
            rules = [r for length, rs in specific if length == best for r in rs]
        else:
            rules = [
                r
                for agents, rs in groups
                if "*" in agents
                for r in rs
            ]
        if not rules:
            return True
        sp = urlsplit(url)
        target = (sp.path or "/") + (f"?{sp.query}" if sp.query else "")
        best_len = -1
        best_allow = True
        for allow, pattern in rules:
            if _pattern_matches(pattern, target):
                n = len(pattern)
                if n > best_len or (n == best_len and allow and not best_allow):
                    best_len, best_allow = n, allow
        return best_allow if best_len >= 0 else True
    except Exception:
        return True  # unparseable robots.txt does not block the crawl
