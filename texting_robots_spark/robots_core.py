"""Pure-Python robots.txt core — the single source of truth the Spark UDFs wrap.

Reimplements (from scratch, in Python) the observable semantics of the
reference Rust library ``texting_robots`` v0.2.2:

- line parser       -> reference src/parser.rs:48-179
- 3-tier matcher    -> reference src/minregex.rs:38-126
- Robot build/allow -> reference src/lib.rs:351-558

There is one statement parser, ``scan_statements``: a single regex sweep
that ``compile_robots`` (and so every gate) runs on each body.
``parse_robots_txt`` is the byte-at-a-time transliteration of the
reference grammar, raw lines included; it is the oracle the scanner is
differential-tested against, not a production path.

Behavioral contract (each item cites the reference spec it reproduces):

* NUL bytes are rewritten to newlines before parsing   (lib.rs:353-357)
* UTF-8 BOM (and truncated 1-/2-byte prefixes) skipped (parser.rs:170-173)
* keys are case-insensitive with misspelling aliases   (parser.rs:95-145)
* ``key: value`` or ``key value`` both accepted        (parser.rs:84-86)
* inline ``#`` comments stripped, values trimmed       (parser.rs:87-91)
* empty ``Disallow:`` is rewritten to ``Allow: /``     (parser.rs:121-126)
* Crawl-Delay must parse as a non-negative float else
  the line is ignored entirely                         (parser.rs:147-165)
* sitemaps are global across all agent groups          (lib.rs:373-384)
* Raw/Sitemap lines are dropped before group capture,
  merging UA blocks separated only by junk             (lib.rs:386-392)
* agent match is an exact full-token case-insensitive
  comparison; no match falls back to ``*``             (lib.rs:394-403)
* consecutive User-Agent lines form one block; a file
  with no UA lines applies to everyone                 (lib.rs:405-444)
* delay = first delay in the captured group, else the
  last delay seen before the first UA line (preamble)  (lib.rs:446-467)
* rule patterns are percent-encoded (UTF-8; existing
  %xx left untouched) before compilation               (lib.rs:261-266, 486)
* star-runs collapse (``x***y`` -> ``x*y``)            (minregex.rs:51-57)
* pattern matching is 3-tier: plain prefix / starred
  sequential-substring / anchored regex when ``$``     (minregex.rs:38-126)
* an oversized ``$``-pattern aborts the whole parse
  (42 KiB compile budget emulation)                    (minregex.rs:76-81, lib.rs:490-497)
* precedence: longest percent-encoded original pattern
  wins; ties prefer Allow; no match means allowed      (lib.rs:541-557, minregex.rs:15-21)
* ``/robots.txt`` itself is always allowed             (lib.rs:535-539)
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

__all__ = [
    "Line",
    "RobotsParseError",
    "RulePattern",
    "Robot",
    "parse_robots_txt",
    "compile_robots",
    "check_pattern_budget",
    "percent_encode",
    "match_stars",
]

# Line kinds
UA = "ua"
ALLOW = "allow"
DISALLOW = "disallow"
SITEMAP = "sitemap"
DELAY = "delay"
RAW = "raw"

Line = Tuple[str, object]  # (kind, bytes-value | float | None)


class RobotsParseError(ValueError):
    """Raised when a rule pattern exceeds the regex compile budget
    (reference: regex size_limit error path, lib.rs:490-497)."""


_SPACE = (0x20, 0x09)  # ' ' and '\t' — nom space0/space1

# Key alternations, tried in this order (parser.rs:175-176 alternation order).
_KEY_GROUPS: List[Tuple[str, Tuple[bytes, ...]]] = [
    (UA, (b"user-agent", b"user agent", b"useragent")),
    (ALLOW, (b"allow",)),
    (
        DISALLOW,
        (b"disallow", b"dissallow", b"dissalow", b"disalow", b"diasllow", b"disallaw"),
    ),
    (SITEMAP, (b"sitemap", b"site-map", b"site map")),
    (DELAY, (b"crawl-delay", b"crawl delay", b"crawldelay")),
]


# Exactly Rust's f32 FromStr grammar (core/src/num/dec2flt): optional
# sign, then inf|infinity|nan (case-insensitive) or a decimal number
# (digits, digits '.' [digits], '.' digits) with an optional exponent.
# ASCII-only: Python's float() alone would additionally accept Unicode
# digits (e.g. b'\xd9\xa5' -> '٥' -> 5.0) and Unicode whitespace, which
# the reference demotes to a Raw line.
_F32_RE = re.compile(
    r"^[+-]?(?:inf(?:inity)?|nan|(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)$",
    re.IGNORECASE | re.ASCII,
)


def _parse_delay_value(value: bytes) -> Optional[float]:
    """Parse a Crawl-Delay value like Rust ``str::parse::<f32>`` + ``d >= 0.0``.

    Returns the delay, or None if the line must be treated as unparseable
    (and therefore fall through to a Raw line — parser.rs:147-165).
    """
    try:
        text = value.decode("utf-8")
    except UnicodeDecodeError:
        return None
    if _F32_RE.match(text) is None:
        return None
    delay = float(text)
    if delay != delay or delay < 0.0:  # NaN or negative -> reject
        return None
    return delay


def _try_statement(data: bytes, i: int) -> Optional[Tuple[int, Line]]:
    """Try to parse one typed statement at offset ``i``.

    Mirrors many_statement_builder (parser.rs:72-93): optional leading
    spaces, a known key, then either ``[spaces] ':'`` or at least one
    space, the value up to line-ending/comment, an optional comment, and
    the line terminator (a run of '\\r' then an optional '\\n').
    """
    n = len(data)
    start = i
    while start < n and data[start] in _SPACE:
        start += 1
    # match a key (case-insensitive alternation in order); if the key
    # matches but the separator fails, backtrack to the next parser just
    # like nom's alt (parser.rs:175-176)
    kind = None
    k = start
    for cand_kind, tags in _KEY_GROUPS:
        j = -1
        for tag in tags:
            end = start + len(tag)
            if data[start:end].lower() == tag:
                j = end
                break
        if j == -1:
            continue
        # separator: (space0 ':') | space1
        k = j
        while k < n and data[k] in _SPACE:
            k += 1
        if k < n and data[k] == 0x3A:  # ':'
            k += 1
        elif k > j:
            pass  # one-or-more spaces is an accepted separator
        else:
            continue  # separator missing — try the next key group
        kind = cand_kind
        break
    if kind is None:
        return None
    # value: up to '\n', '\r', or '#'
    m = k
    while m < n and data[m] not in (0x0A, 0x0D, 0x23):
        m += 1
    value = data[k:m]
    # optional '#' comment: consume to line ending
    if m < n and data[m] == 0x23:
        while m < n and data[m] not in (0x0A, 0x0D):
            m += 1
    # consume_newline: '\r'* then one optional '\n' (parser.rs:60-64)
    while m < n and data[m] == 0x0D:
        m += 1
    if m < n and data[m] == 0x0A:
        m += 1
    value = value.strip()  # ASCII-whitespace trim (parser.rs:91)

    if kind == DISALLOW and not value:
        # "Disallow:" (empty) is equivalent to "Allow: /" (parser.rs:121-126)
        return m, (ALLOW, b"/")
    if kind == DELAY:
        delay = _parse_delay_value(value)
        if delay is None:
            return None  # falls through to a Raw line (parser.rs alternation)
        return m, (DELAY, delay)
    return m, (kind, value)


def _raw_line(data: bytes, i: int) -> Tuple[int, Line]:
    """Fallback raw line: everything up to the line ending, untrimmed,
    comment included (parser.rs:66-70)."""
    n = len(data)
    m = i
    while m < n and data[m] not in (0x0A, 0x0D):
        m += 1
    value = data[i:m]
    while m < n and data[m] == 0x0D:
        m += 1
    if m < n and data[m] == 0x0A:
        m += 1
    return m, (RAW, value)


def parse_robots_txt(data: bytes) -> List[Line]:
    """Parse robots.txt bytes into a list of typed lines.

    Byte-at-a-time transliteration of robots_txt_parse (parser.rs:168-179)
    — the reference the statement scanner is differential-tested
    against. Never fails: any unrecognized line becomes a Raw line. Line
    terminators are a run of '\\r' plus an optional '\\n'
    (parser.rs:60-64), so lone '\\r' also terminates a line."""
    i = 0
    # BOM strip: each of \xef \xbb \xbf individually optional, in order,
    # so truncated BOM prefixes are also skipped (parser.rs:170-173).
    if data[i : i + 1] == b"\xef":
        i += 1
    if data[i : i + 1] == b"\xbb":
        i += 1
    if data[i : i + 1] == b"\xbf":
        i += 1
    lines: List[Line] = []
    n = len(data)
    while i < n:
        parsed = _try_statement(data, i)
        if parsed is None:
            parsed = _raw_line(data, i)
        i, line = parsed
        lines.append(line)
    return lines


# The reference's line terminator: a run of '\r' plus an optional '\n'
# (parser.rs:60-64). scan_statements rewrites each one to a single '\n'.
_LINE_SPLIT = re.compile(rb"\r*\n|\r+")
_KIND_OF_KEY = {}
for _kind, _tags in _KEY_GROUPS:
    for _tag in _tags:
        _KIND_OF_KEY[_tag] = _kind


# One multiline finditer over the whole body collects every typed
# statement in order, skipping raw lines entirely (raw lines never
# influence compile_robots — they are filtered before grouping,
# lib.rs:386-392). The alternation lists keys in the reference's parser
# order (parser.rs:175-176); regex backtracking across alternatives
# reproduces nom's alt() (a key whose separator is missing falls through
# to the next key, then to Raw). '\n' is the only terminator it knows.
_STMT_SCAN_RE = re.compile(
    rb"^[ \t]*"
    rb"(user-agent|user agent|useragent"
    rb"|allow"
    rb"|disallow|dissallow|dissalow|disalow|diasllow|disallaw"
    rb"|sitemap|site-map|site map"
    rb"|crawl-delay|crawl delay|crawldelay)"
    rb"(?:[ \t]*:|[ \t])"
    rb"([^#\n]*)(?:#[^\n]*)?$",
    re.IGNORECASE | re.MULTILINE,
)


def scan_statements(data: bytes) -> List[Line]:
    """Typed statements of a robots.txt body in ONE C-level regex sweep
    — equivalent to ``[ln for ln in parse_robots_txt(data) if ln[0] !=
    RAW]`` (differential-tested). Bodies containing '\\r' first have
    every terminator rewritten to '\\n'. A failed Crawl-Delay parse is
    dropped (it would have demoted to Raw, parser.rs:147-165)."""
    if data[:1] == b"\xef":
        data = data[1:]
    if data[:1] == b"\xbb":
        data = data[1:]
    if data[:1] == b"\xbf":
        data = data[1:]
    if b"\r" in data:
        data = _LINE_SPLIT.sub(b"\n", data)
    lines: List[Line] = []
    append = lines.append
    kinds = _KIND_OF_KEY
    # findall materializes (key, value) pairs in C — no match objects
    for key, value in _STMT_SCAN_RE.findall(data):
        kind = kinds[key.lower()]
        value = value.strip()
        if kind == DELAY:
            delay = _parse_delay_value(value)
            if delay is not None:
                append((DELAY, delay))
        elif kind == DISALLOW and not value:
            append((ALLOW, b"/"))
        else:
            append((kind, value))
    return lines


# ---------------------------------------------------------------------------
# Percent-encoding (lib.rs:261-266)
# ---------------------------------------------------------------------------

# ASCII bytes that pass through unencoded: printable ASCII except the
# reference FRAGMENT set {space, '"', '<', '>', '`'}; controls (<0x20,
# 0x7f) and all non-ASCII bytes are percent-encoded.
_ENC_TABLE = [
    ("%%%02X" % b)
    if (b <= 0x1F or b >= 0x7F or b in (0x20, 0x22, 0x3C, 0x3E, 0x60))
    else chr(b)
    for b in range(256)
]


# characters that pass through percent_encode unchanged (printable ASCII
# minus space, '"', '<', '>', '`')
_NO_ENCODE_RE = re.compile(r"^[\x21\x23-\x3b\x3d\x3f-\x5f\x61-\x7e]*$")


def percent_encode(text: str) -> str:
    """UTF-8 percent-encode controls + ``space " < > ` `` and non-ASCII.

    Existing %xx sequences are left untouched ('%' is not in the set) —
    golden: ``/á`` -> ``/%C3%A1`` but ``/%aa`` stays ``/%aa``.
    """
    if _NO_ENCODE_RE.match(text) is not None:
        return text  # nothing to encode (the common case)
    table = _ENC_TABLE
    return "".join(table[b] for b in text.encode("utf-8"))


# ---------------------------------------------------------------------------
# Rule pattern (3-tier matcher — minregex.rs)
# ---------------------------------------------------------------------------

_STAR_RUN = re.compile(r"\*+")
# Budget emulation for the reference's 42 KiB regex compile limit
# (minregex.rs:76-81). Python's `re` has no size limit, so we estimate
# compiled size as ~16 bytes per collapsed-pattern char: real-world
# $-patterns top out around 64 chars (zillow/quora/ipwatchdog corpora)
# while the adversarial fuzz pattern is ~4100 chars.
_REGEX_BUDGET_CHARS = (42 * 1024) // 16


def match_stars(pattern: bytes, text: bytes) -> bool:
    """Sequential-substring scan for '*' patterns (minregex.rs:90-116).

    The first '*'-separated segment is anchored at the start of the text
    (unless the text itself starts with '*', replicating the reference's
    guard); later segments match at the earliest position after the
    previous one. A leading-'*' pattern has an empty first segment and so
    matches anywhere.
    """
    parts = pattern.split(b"*")
    start = 0
    for idx, part in enumerate(parts):
        if idx == 0 and text and text[0:1] != b"*":
            if not text.startswith(part):
                return False
            start += len(part)
            continue
        found = text.find(part, start)
        if found == -1:
            return False
        start = found + len(part)
    return True


class RulePattern:
    """Compiled Allow/Disallow pattern with 3 representations chosen at
    build time (minregex.rs:38-88):

    - no ``*``/``$``: plain prefix check
    - ``*`` only: star-run-collapsed sequential-substring scan
    - any ``$``: anchored regex (escape, ``*`` -> ``.*``, ``$`` -> end)

    ``pattern`` keeps the original (percent-encoded, pre-collapse) string
    because rule precedence compares its length (minregex.rs:15-21).
    """

    __slots__ = ("pattern", "_prefix", "_starred", "_regex")

    def __init__(self, pattern: str):
        self.pattern = pattern
        self._prefix: Optional[str] = None
        self._starred: Optional[bytes] = None
        self._regex = None
        if "$" not in pattern and "*" not in pattern:
            self._prefix = pattern
            return
        collapsed = _STAR_RUN.sub("*", pattern)
        if "$" not in pattern:
            self._starred = collapsed.encode("utf-8")
            return
        check_pattern_budget(pattern)
        body = re.escape(collapsed).replace("\\*", ".*").replace("\\$", r"\Z")
        self._regex = re.compile("^" + body)

    def is_match(self, text: str) -> bool:
        if self._regex is not None:
            return self._regex.search(text) is not None
        if self._starred is not None:
            return match_stars(self._starred, text.encode("utf-8"))
        return text.startswith(self._prefix)

    def as_str(self) -> str:
        """Matcher-internal form (collapsed/regex), for golden tests
        (minregex.rs:128-138; star-collapse golden test)."""
        if self._regex is not None:
            return self._regex.pattern
        if self._starred is not None:
            return self._starred.decode("utf-8")
        return self._prefix

    def __repr__(self) -> str:  # keeps Robot repr useful in test output
        return f"RulePattern({self.pattern!r})"


# ---------------------------------------------------------------------------
# URL preparation (lib.rs:504-518) — path[?query][#fragment] extraction
# ---------------------------------------------------------------------------

from .urltools import prepare_url  # noqa: E402  (shared with Spark UDFs)


# ---------------------------------------------------------------------------
# Robot (lib.rs:315-558)
# ---------------------------------------------------------------------------


def check_pattern_budget(pattern: str) -> None:
    """Raise RobotsParseError when a '$'-pattern exceeds the emulated
    42 KiB regex compile budget (minregex.rs:76-81) — shared by
    RulePattern and the Spark rule-extraction path."""
    if "$" in pattern:
        collapsed = _STAR_RUN.sub("*", pattern)
        if len(collapsed) > _REGEX_BUDGET_CHARS:
            raise RobotsParseError(
                f"rule pattern exceeds regex compile budget: {pattern[:64]!r}..."
            )


def compile_robots(
    agent: str, txt: bytes
) -> Tuple[List[Tuple[str, bool]], Optional[float], List[str]]:
    """Full reference pipeline (lib.rs:351-502) minus matcher objects.

    Returns ``(rules, delay, sitemaps)`` where ``rules`` is the
    precedence-sorted list of (percent-encoded pattern, is_allow) pairs:
    longest original pattern first, Allow before Disallow on ties, stable.
    Raises RobotsParseError when any rule exceeds the regex budget (the
    reference rejects the whole file, lib.rs:490-497).

    This is the single entry point both the pure-Python Robot and the
    Spark parse_robots UDF build on.
    """
    # NUL scrub (lib.rs:353-357)
    if b"\x00" in txt:
        txt = txt.replace(b"\x00", b"\n")
    # typed statements only: raw lines are irrelevant to compilation
    # (filtered before grouping anyway)
    lines = scan_statements(txt)

    # Sitemaps are global; non-UTF-8 entries dropped (lib.rs:373-384)
    sitemaps: List[str] = []
    for kind, value in lines:
        if kind == SITEMAP:
            try:
                sitemaps.append(value.decode("utf-8"))
            except UnicodeDecodeError:
                pass

    # Drop Raw + Sitemap lines BEFORE grouping: merges UA blocks
    # separated only by junk lines (lib.rs:386-392)
    filtered = [ln for ln in lines if ln[0] in (UA, ALLOW, DISALLOW, DELAY)]

    # Agent resolution: exact case-insensitive token match, else '*'
    # (lib.rs:394-403). bytes.lower() is ASCII-only, matching the
    # reference's to_ascii_lowercase on the UA value.
    agent_b = agent.lower().encode("utf-8")
    if not any(kind == UA and value.lower() == agent_b for kind, value in filtered):
        agent_b = b"*"

    # Group capture scan (lib.rs:405-444)
    n = len(filtered)
    capturing = not any(kind == UA for kind, _ in filtered)
    subset: List[Line] = []
    idx = 0
    while idx < n:
        line = filtered[idx]
        if line[0] == UA:
            capturing = False
            while idx < n and filtered[idx][0] == UA:
                if filtered[idx][1].lower() == agent_b:
                    capturing = True
                idx += 1
            if idx == n:
                # trailing UA run: reference pushes the last UA line;
                # harmless (UA lines carry no rules/delay)
                line = filtered[idx - 1]
            else:
                line = filtered[idx]
        if capturing:
            subset.append(line)
        idx += 1

    # Crawl delay: first delay in the captured subset, else preamble
    # fallback — last delay before the first UA line (lib.rs:446-467)
    delay: Optional[float] = next(
        (v for k, v in subset if k == DELAY and v is not None), None
    )
    if delay is None:
        for kind, value in filtered:
            if kind == DELAY and value is not None:
                delay = value
            if kind == UA:
                break

    # Rule extraction: percent-encode, budget-check, precedence-sort
    # (lib.rs:469-499; sort per lib.rs:548-551 + minregex.rs:15-21)
    rules: List[Tuple[str, bool]] = []
    for kind, value in subset:
        if kind not in (ALLOW, DISALLOW):
            continue
        try:
            pat = value.decode("utf-8")
        except UnicodeDecodeError:
            continue
        pat = percent_encode(pat)
        check_pattern_budget(pat)
        rules.append((pat, kind == ALLOW))
    rules.sort(key=lambda r: (-len(r[0]), not r[1]))
    return rules, delay, sitemaps


class Robot:
    """Compiled, agent-specialized robots.txt artifact.

    Attributes match the reference's public surface: ``rules`` (ordered by
    precedence), ``delay`` (Optional[float]), ``sitemaps`` (List[str]).
    """

    __slots__ = ("rules", "delay", "sitemaps")

    def __init__(self, agent: str, txt: bytes):
        rules, self.delay, self.sitemaps = compile_robots(agent, txt)
        # First match in precedence order decides (rules pre-sorted).
        self.rules = [(RulePattern(pat), is_allow) for pat, is_allow in rules]

    def allowed(self, url: str) -> bool:
        """Allow/deny per the captured rules (lib.rs:535-558)."""
        path = prepare_url(url)
        if path == "/robots.txt":
            return True
        for rule, is_allow in self.rules:
            if rule.is_match(path):
                return is_allow
        return True
