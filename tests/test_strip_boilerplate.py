"""Line-level boilerplate removal (pipeline/text.py::strip_boilerplate_lines):
the CCNet/RefinedWeb curation step — trimmed lines repeated across more
than max_line_df distinct documents are removed everywhere, remaining
lines reassemble in order, and the strip builds lazily."""

from __future__ import annotations

from collections import Counter

import pytest

from hta_spark.pipeline.text import strip_boilerplate_lines

from .conftest import jobs_in

FOOTER = "all rights reserved"
NAV = "  home | about | contact  "          # trims to a shared key


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(40):
        body = [f"unique line {i} alpha", f"unique line {i} beta"]
        lines = body + [FOOTER]
        if i % 2 == 0:
            lines = [NAV] + lines
        if i == 7:                      # in-doc duplicate: df counts once
            lines += [FOOTER, FOOTER]
        rows.append((i, "\n".join(lines)))
    rows.append((100, FOOTER))          # all-boilerplate doc
    rows.append((101, ""))              # empty doc
    rows.append((102, None))            # NULL text: NULL-in -> NULL-out
    return spark.createDataFrame(rows, "doc_id long, text string")


def _model(rows, max_df):
    df = Counter()
    for _, text in rows:
        for norm in {ln.strip() for ln in (text or "").split("\n")
                     if text is not None}:
            df[norm] += 1
    hot = {n for n, c in df.items() if c > max_df}
    out = {}
    for did, text in rows:
        if text is None:                # NULL-in -> NULL-out (r13 fix)
            out[did] = (None, None, None)
            continue
        lines = text.split("\n")
        kept = [ln for ln in lines if ln.strip() not in hot]
        out[did] = ("\n".join(kept), len(lines), len(lines) - len(kept))
    return out


def test_strip_matches_model(corpus):
    rows = [(r.doc_id, r.text) for r in corpus.collect()]
    want = _model(rows, max_df=10)
    got = {r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
           for r in strip_boilerplate_lines(corpus, max_line_df=10).collect()}
    assert got == want
    # the footer and nav really were hot; doc 7's in-doc dups removed
    assert FOOTER not in want[7][0] and want[7][2] == 3
    assert want[100][0] == "" and want[100] == ("", 1, 1)
    # rare lines untouched
    assert want[3][0] == "unique line 3 alpha\nunique line 3 beta"
    # empty doc: split("") -> [""], "" trims hot only if ubiquitous;
    # with 21 even-docs NAV + footer rows, "" appears in 1 doc -> kept
    assert want[101] == ("", 1, 0)
    # NULL text passes through untouched, not rewritten to ''
    assert want[102] == (None, None, None)


def test_strip_partition_invariance(corpus):
    a = sorted(map(tuple, strip_boilerplate_lines(corpus, 10).collect()))
    b = sorted(map(tuple, strip_boilerplate_lines(
        corpus.repartition(7), 10).collect()))
    assert a == b


def test_strip_nothing_hot_is_identity(spark):
    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "c\nd")], "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
           for r in strip_boilerplate_lines(docs, max_line_df=5).collect()}
    assert got == {1: ("a\nb", 2, 0), 2: ("c\nd", 2, 0)}


def test_strip_builds_with_zero_jobs(spark, corpus):
    """No planner job: the hot-line set stays a lazy anti-join side."""
    _, jobs = jobs_in(spark, lambda: strip_boilerplate_lines(corpus, 10))
    assert jobs == []


def test_strip_null_id_fails_loudly(spark):
    """A NULL id with text fails the action, naming the column, instead
    of coming back as empty text with every line counted removed."""
    rows = [(i, f"{FOOTER}\nline {i}") for i in range(5)]
    rows.append((None, f"{FOOTER}\nline x"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(Exception, match="NULL 'doc_id'"):
        strip_boilerplate_lines(docs, 2).collect()
