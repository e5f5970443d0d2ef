"""Hypothesis-driven cross-engine pinning of EVERY text_queries_sql entry.

The r4 driver reds (dedup_minhash/dedup_simhash) were an ORACLE-side dtype
drift (DuckDB HUGEINT -> fetchdf float64) that the fixed-corpus dialect
tests and the np.isclose parity comparator both missed.  This test closes
that class: hypothesis generates adversarial corpora (unicode, multi-space
runs, separator characters, sub-guard short docs, single-token long docs,
NULL text) and asserts, for every query template, that the spark and duck
renderings agree on VALUES **and dtype kind** — the exact comparison the
driver's value hash performs.

VERDICT.md round-4 item #8.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from projcl_spark.operators.text import text_queries_sql

# Token alphabet deliberately pokes md5-over-utf8, the '|' band separator,
# the ':' salt separator, SQL quoting, and case folding.  No spaces (the
# tokenizer splits on ' '; multi-space runs are injected by the joiner).
_ALPHABET = (
    "abcdefghijkstuvwxyzABCDEFGHIJ0123456789"
    "|:;'\"@.%+-_()[]{}"
    "éüñßçàâøåæ☃☂✓€—中文字日本語한국어"
)

_token = st.text(alphabet=_ALPHABET, min_size=1, max_size=10)

# stopword-bearing tokens keep lang_id's scored CTE non-degenerate
_stopword = st.sampled_from(
    ["the", "a", "of", "and", "to", "der", "die", "und", "le", "la",
     "et", "el", "los", "de", "y"])

_any_token = st.one_of(_token, _stopword)


@st.composite
def _corpus(draw) -> pd.DataFrame:
    """8-14 docs: a core that passes the length/token guard (>=48 chars,
    >=4 tokens) plus adversarial extras that must be filtered identically
    by both engines (empty, whitespace-only, one long token, NULL)."""
    n_good = draw(st.integers(min_value=6, max_value=10))
    rows: list[tuple[int, str, object]] = []
    langs = ["en", "de", "fr", "es"]
    for i in range(n_good):
        toks = draw(st.lists(_any_token, min_size=4, max_size=14))
        # multi-space runs: the splitter emits empty-string tokens — both
        # engines must agree on those, so generate them on purpose
        seps = [" " * draw(st.integers(min_value=1, max_value=3))
                for _ in range(len(toks) - 1)]
        text = toks[0] + "".join(s + t for s, t in zip(seps, toks[1:]))
        while len(text) < 48:  # meet the guard without changing tokens' shape
            text += " " + toks[len(text) % len(toks)]
        rows.append((i, langs[i % 4], text))
    # adversarial extras (doc_ids keep the %5 / %7 arms reachable)
    extras = [
        "",                       # empty
        "   ",                    # whitespace-only
        "x" * draw(st.integers(min_value=48, max_value=80)),  # 1 long token
        None,                     # NULL text
        draw(_token),             # short, sub-guard
    ]
    for j, t in enumerate(extras):
        rows.append((n_good + j, langs[j % 4], t))
    return pd.DataFrame(rows, columns=["doc_id", "lang", "text"])


def _compare(name: str, s: pd.DataFrame, d: pd.DataFrame) -> list[str]:
    errs: list[str] = []
    s = s[sorted(s.columns)].sort_values(list(sorted(s.columns)),
                                         kind="mergesort").reset_index(drop=True)
    d = d[sorted(d.columns)].sort_values(list(sorted(d.columns)),
                                         kind="mergesort").reset_index(drop=True)
    if list(s.columns) != list(d.columns):
        return [f"{name}: columns {list(s.columns)} != {list(d.columns)}"]
    if len(s) != len(d):
        return [f"{name}: rows {len(s)} != {len(d)}"]
    if len(s) == 0:
        return []  # empty frames carry no hashable values (and no dtypes)
    for c in s.columns:
        a, b = s[c].to_numpy(), d[c].to_numpy()
        kinds = {a.dtype.kind, b.dtype.kind}
        if "f" in kinds and (kinds & set("iu")):
            errs.append(f"{name}.{c}: dtype-kind drift "
                        f"(spark {a.dtype} vs duck {b.dtype})")
            continue
        # null-aware: NaN/None on BOTH engines is agreement (the allowed
        # nullable-promotion pattern), not a value mismatch — in float
        # columns and in object columns (strings, nullable ints)
        bad = a != b
        if kinds & set("fO"):
            bad = bad & ~(pd.isna(a) & pd.isna(b))
        if getattr(bad, "any", lambda: bad)():
            i = int(np.nonzero(np.asarray(bad))[0][0])
            errs.append(f"{name}.{c}: value mismatch row {i}: {a[i]!r} != {b[i]!r}")
    return errs


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(pdf=_corpus())
def test_text_queries_cross_engine_on_generated_corpora(spark, pdf):
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("documents")
    con = duckdb.connect()
    con.register("documents", pdf)
    try:
        spark_q = text_queries_sql("spark")
        duck_q = text_queries_sql("duck")
        errs: list[str] = []
        for name in sorted(spark_q):
            s = spark.sql(spark_q[name]).toPandas()
            d = con.execute(duck_q[name]).fetchdf()
            errs += _compare(name, s, d)
        assert not errs, "\n".join(errs)
    finally:
        con.close()
        spark.catalog.dropTempView("documents")
