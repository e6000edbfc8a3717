"""The statement scanner ``compile_robots`` runs (``scan_statements``)
must equal the byte-at-a-time reference parser with raw lines removed —
on the corpus and on random fuzz-ish inputs (keyword-dictionary-guided
like the reference's fuzzer, fuzz/keywords.dict), every line-terminator
form included."""

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from texting_robots_spark.conformance import CORPUS
from texting_robots_spark.robots_core import (
    RAW,
    compile_robots,
    parse_robots_txt,
    scan_statements,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "..", "fixtures", "robots")


_KEYWORDS = [
    b"user-agent",
    b"User-Agent",
    b"useragent",
    b"user agent",
    b"allow",
    b"Allow",
    b"disallow",
    b"Disallow",
    b"dissallow",
    b"disalow",
    b"sitemap",
    b"site-map",
    b"site map",
    b"crawl-delay",
    b"Crawl-Delay",
    b"crawldelay",
    b":",
    b" ",
    b"\t",
    b"\n",
    b"\r",
    b"\r\n",
    b"\n\r",
    b"\r\r\n",
    b"#",
    b"/",
    b"*",
    b"$",
    b"1.5",
    b"-2",
    b"inf",
    b"nan",
    b"\xef\xbb\xbf",
    b"\xef",
    b"\xc3\xb1",
    b"\xff",
    b"%aa",
]


def test_scan_equals_parse_on_corpus():
    for case in CORPUS:
        data = case.robots.replace(b"\x00", b"\n")
        want = [ln for ln in parse_robots_txt(data) if ln[0] != RAW]
        assert scan_statements(data) == want, case.case_id


@settings(max_examples=1500, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.sampled_from(_KEYWORDS),
            st.binary(max_size=6),
        ),
        max_size=24,
    )
)
def test_scan_equals_parse_on_fuzzed_inputs(parts):
    data = b"".join(parts).replace(b"\x00", b"\n")
    want = [ln for ln in parse_robots_txt(data) if ln[0] != RAW]
    assert scan_statements(data) == want, repr(data)


@pytest.mark.parametrize("name", sorted(os.listdir(FIXTURES)))
def test_compile_robots_ignores_terminator_form(name):
    with open(os.path.join(FIXTURES, name), "rb") as f:
        lf = f.read()
    for agent in ("TRSBot", "Googlebot"):
        want = compile_robots(agent, lf)
        for sep in (b"\r\n", b"\r"):
            assert compile_robots(agent, lf.replace(b"\n", sep)) == want, (agent, sep)
