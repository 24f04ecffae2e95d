"""Property-based parity for the SDF record parser.

parse_sdf_records' semantics are declared in sources/sdf.py (tag line
``> <TAG>``, value = first following line only, first occurrence of a
duplicated tag wins, first CID regex match wins). This fuzzes random
records and checks the Spark parse against an independent line-scanning
oracle implementing exactly those declared semantics — the same consume-
the-value-line scan the reference's per-line loop performs.

Both ``mapKeyDedupPolicy`` values are checked: LAST_WIN (``get_spark``)
and EXCEPTION (Spark's default) build the tag map with different
kernels.
"""

import contextlib
import os
import re
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from local_pubchem_db_spark.pipeline import compounds_plan
from local_pubchem_db_spark.plans.layout import compile_layout, load_db_specifications
from local_pubchem_db_spark.sources.sdf import parse_sdf_records, read_sdf

POLICIES = ["LAST_WIN", "EXCEPTION"]

# small tag pool → guaranteed duplicate-tag collisions
_TAGS = ["PUBCHEM_XLOGP3", "T1", "T2", "A>", "B_b", "PUBCHEM_COMPOUND_CID"]
_VAL_ALPHABET = "abcXYZ019 .'<>-_"

_value = st.text(alphabet=_VAL_ALPHABET, max_size=12)
_junk_line = st.text(alphabet=_VAL_ALPHABET + "$", max_size=10)


@st.composite
def _record(draw):
    lines = []
    # molfile-ish preamble
    for _ in range(draw(st.integers(0, 3))):
        lines.append(draw(_junk_line))
    if draw(st.booleans()):
        lines += ["> <PUBCHEM_COMPOUND_CID>", str(draw(st.integers(0, 99999)))]
    for _ in range(draw(st.integers(0, 6))):
        tag = draw(st.sampled_from(_TAGS))
        lines += [f"> <{tag}>", draw(_value)]
        # occasional stray line between blocks
        if draw(st.booleans()):
            lines.append(draw(_junk_line))
    return "\n".join(lines)


def _oracle(rec: str):
    """Independent line scan with the declared semantics."""
    m = re.search(r"<PUBCHEM_COMPOUND_CID>\n([0-9]+)", rec)
    cid = int(m.group(1)) if m else None
    lines = rec.split("\n")
    tags = {}
    i = 0
    while i < len(lines) - 1:
        line = lines[i]
        if line.startswith("> <") and line.endswith(">") and len(line) > 4:
            tags.setdefault(line[3:-1], lines[i + 1])
            i += 2  # the value line is consumed, never re-read as a tag
            continue
        i += 1
    return cid, tags


@contextlib.contextmanager
def dedup_policy(spark, policy):
    """The session's mapKeyDedupPolicy set to ``policy``, then restored."""
    prev = spark.conf.get("spark.sql.mapKeyDedupPolicy")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", policy)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", prev)


def check_parse(spark, records):
    df = spark.createDataFrame([(r,) for r in records], ["record"])
    got = parse_sdf_records(df).select("record", "cid", "tags").collect()
    # row order isn't guaranteed; key by record text + index multiset
    got_items = Counter(
        (r["record"], r["cid"], tuple(sorted((r["tags"] or {}).items())))
        for r in got
    )
    want_items = Counter()
    for rec in records:
        cid, tags = _oracle(rec)
        want_items[(rec, cid, tuple(sorted(tags.items())))] += 1
    assert got_items == want_items


# one Spark job per example: keep the example count modest
@settings(max_examples=15, deadline=None)
@given(st.lists(_record(), min_size=1, max_size=40))
def test_parse_matches_line_scan_oracle(spark, records):
    check_parse(spark, records)  # the session's LAST_WIN kernel


@settings(max_examples=15, deadline=None)
@given(st.lists(_record(), min_size=1, max_size=40))
def test_parse_matches_line_scan_oracle_under_exception_policy(spark, records):
    with dedup_policy(spark, "EXCEPTION"):
        check_parse(spark, records)


def test_fixture_compounds_equal_under_both_policies(spark, sdf_dir):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    layout = compile_layout(
        load_db_specifications(os.path.join(repo, "default_db_layout.json"))
    )
    paths = sorted(
        os.path.join(sdf_dir, f) for f in os.listdir(sdf_dir) if f.endswith(".gz")
    )
    rows = {}
    for policy in POLICIES:
        with dedup_policy(spark, policy):
            rows[policy] = sorted(
                compounds_plan(read_sdf(spark, paths), layout).collect()
            )
    assert len(rows["LAST_WIN"]) == 8
    assert rows["LAST_WIN"] == rows["EXCEPTION"]
