"""Property-based tests (hypothesis) for the pure-Python twins.

These run WITHOUT a SparkSession — they pin the driver-side/pandas twin
implementations whose agreement with the JVM expressions is asserted
elsewhere (tests/test_urls.py, test_dedup_similarity.py), so properties
proved here transfer to the expression path.
"""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from tests.oracle import canonicalize_urls_pandas
from warcit_spark.operators.dedup import _simhash_batch

# URL-ish generator: scheme/host/port/path/query fragments with the messy
# bits canonicalization must normalize (case, default ports, fragments,
# unsorted query params, spaces)
_scheme = st.sampled_from(["http", "HTTP", "https", "Https", "ftp"])
_host = st.from_regex(r"[A-Za-z0-9]([A-Za-z0-9.-]{0,20}[A-Za-z0-9])?", fullmatch=True)
_port = st.sampled_from(["", ":80", ":443", ":8080", ":8443"])
_path = st.from_regex(r"(/[A-Za-z0-9._ %~-]{0,10}){0,4}", fullmatch=True)
_query = st.sampled_from(
    ["", "?b=2&a=1", "?z=9&a=1&m=5", "?single=1", "?dup=1&dup=0"]
)
_frag = st.sampled_from(["", "#frag", "#a/b?c=d"])


@st.composite
def urls(draw):
    return (
        draw(_scheme) + "://" + draw(_host) + draw(_port)
        + draw(_path) + draw(_query) + draw(_frag)
    )


@settings(max_examples=300, deadline=None)
@given(urls())
def test_canonicalize_idempotent(u):
    """canon(canon(u)) == canon(u): re-canonicalizing a frontier URL (which
    happens every round to extracted links that may already be canonical)
    must be a fixed point, or the seen-set would never converge."""
    once = canonicalize_urls_pandas(pd.Series([u])).iloc[0]
    twice = canonicalize_urls_pandas(pd.Series([once])).iloc[0]
    assert twice == once


@settings(max_examples=300, deadline=None)
@given(urls())
def test_canonicalize_strips_fragment_and_sorts_query(u):
    c = canonicalize_urls_pandas(pd.Series([u])).iloc[0]
    assert "#" not in c
    if "?" in c:
        qs = c.split("?", 1)[1].split("&")
        assert qs == sorted(qs)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=12),
        min_size=1,
        max_size=8,
    )
)
def test_simhash_bitvote_matches_naive(hash_lists):
    """The vectorized numpy bit-vote kernel == a naive per-bit Python vote
    on arbitrary signed-64 token-hash multisets."""
    got = _simhash_batch(pd.Series(hash_lists)).tolist()
    for arr, g in zip(hash_lists, got):
        if not arr:
            assert g == 0
            continue
        val = 0
        for b in range(64):
            ones = sum((h >> b) & 1 for h in (x & ((1 << 64) - 1) for x in arr))
            if ones * 2 > len(arr):
                val |= 1 << b
        want = val - (1 << 64) if val >= (1 << 63) else val
        assert g == want


# ------------------------------------------------ politeness two-stage spec
# Pure-Python twins of plans/politeness.py: the SINGLE-WINDOW reference spec
# (exact per-host top-budget) and the TWO-STAGE salted plan (per-(host,slot)
# pre-rank, then exact rank over survivors).  politeness.py:22-33 claims
# stage 1 loses nothing for ANY salt assignment; this property drives that
# claim over random frontiers, budgets, delays, robots flags, and
# hypothesis-chosen (adversarial) salt assignments — far beyond the single
# distribution the crawl-parity tests cover.

def _pol_budget(host_budget, delay):
    return max(1, int(host_budget / max(1.0, delay)))


def _pol_single_window(rows, host_budget):
    """Spec: per host, allowed rows ordered (priority desc, url asc),
    top budget(host) selected with their ranks."""
    out = {}
    hosts = {}
    for r in rows:
        hosts.setdefault(r["host"], []).append(r)
    for host, rs in hosts.items():
        budget = _pol_budget(host_budget, rs[0]["delay"])
        eligible = sorted(
            (r for r in rs if r["allowed"]),
            key=lambda r: (-r["priority"], r["url"]),
        )
        for rank, r in enumerate(eligible[:budget], start=1):
            out[r["url"]] = rank
    return out


def _pol_two_stage(rows, host_budget, salt_of):
    """plans/politeness.py: stage 1 per-(host, slot) window ordered
    (allowed desc, priority desc, url asc), _pre_ok = rownum <= budget AND
    allowed; stage 2 exact per-host rank over _pre_ok survivors."""
    slots = {}
    for r in rows:
        slots.setdefault((r["host"], salt_of(r["url"])), []).append(r)
    survivors = []
    for (host, _slot), rs in slots.items():
        budget = _pol_budget(host_budget, rs[0]["delay"])
        ordered = sorted(
            rs, key=lambda r: (not r["allowed"], -r["priority"], r["url"])
        )
        for i, r in enumerate(ordered):
            if i < budget and r["allowed"]:
                survivors.append(r)
    out = {}
    hosts = {}
    for r in survivors:
        hosts.setdefault(r["host"], []).append(r)
    for host, rs in hosts.items():
        budget = _pol_budget(host_budget, rs[0]["delay"])
        ordered = sorted(rs, key=lambda r: (-r["priority"], r["url"]))
        for rank, r in enumerate(ordered[:budget], start=1):
            out[r["url"]] = rank
    return out


@settings(max_examples=250, deadline=None)
@given(st.data())
def test_politeness_two_stage_equals_single_window(data):
    n = data.draw(st.integers(min_value=0, max_value=40), label="n_rows")
    n_hosts = data.draw(st.integers(min_value=1, max_value=4), label="n_hosts")
    host_budget = data.draw(st.integers(min_value=1, max_value=8), label="budget")
    n_salt = data.draw(st.integers(min_value=1, max_value=8), label="n_salt")
    delays = {
        f"h{i}": data.draw(
            st.sampled_from([0.0, 0.5, 1.0, 2.0, 5.0]), label=f"delay_h{i}"
        )
        for i in range(n_hosts)
    }
    rows = []
    for i in range(n):
        host = f"h{data.draw(st.integers(min_value=0, max_value=n_hosts - 1))}"
        rows.append(
            {
                "host": host,
                "url": f"http://{host}/p{i:03d}",
                # few distinct priorities -> plenty of ties, url tiebreak
                "priority": data.draw(
                    st.sampled_from([0.0, 0.5, 1.0, 1.0, 2.0])
                ),
                "delay": delays[host],
                "allowed": data.draw(st.booleans()),
            }
        )
    # adversarial salt assignment: hypothesis picks each url's slot freely
    # (murmur3 pmod is one instance of this space)
    salts = {
        r["url"]: data.draw(
            st.integers(min_value=0, max_value=n_salt - 1), label="salt"
        )
        for r in rows
    }
    want = _pol_single_window(rows, host_budget)
    got = _pol_two_stage(rows, host_budget, salts.__getitem__)
    assert got == want


# SURT twin properties (surt_expr parity with surt_py is pinned on a
# combinatorial corpus in tests/test_urls.py)
from tests.oracle import surt_py


@settings(max_examples=300, deadline=None)
@given(urls())
# a host that is only ``www``, ends in ``www`` or repeats it keeps a
# ``www`` label: the rule strips exactly one leading ``www\d*.`` label
@example("http://www")
@example("http://a.www")
@example("http://www.www.com")
def test_surt_shape_and_rules(u):
    s = surt_py(u)
    if s is None:
        return
    assert "#" not in s and ")" in s
    key, rest = s.split(")", 1)
    assert key == key.lower()
    host = ".".join(reversed(key.split(":", 1)[0].split(",")))
    given_host = re.split(r"[:/?#]", u.split("://", 1)[1], maxsplit=1)[0].lower()
    www = re.match(r"www\d*\.", given_host)
    assert host == (given_host[www.end():] if www else given_host)
    # default ports never survive; non-default ones do
    assert not (u.lower().startswith("http://") and key.endswith(":80"))
    if "?" in rest:
        qs = rest.split("?", 1)[1].split("&")
        assert qs == sorted(qs)


@settings(max_examples=300, deadline=None)
@given(urls())
def test_surt_host_reversal_roundtrip(u):
    s = surt_py(u)
    if s is None:
        return
    key = s.split(")", 1)[0].split(":", 1)[0]
    host = ".".join(reversed(key.split(",")))
    # reversing back yields the www/port/userinfo-stripped lowered host
    assert surt_py("http://" + host + "/") == key + ")/"
