"""Cross-engine property tests for the primitives every oracle rests on:
micro_ratio / deterministic_avg / portable_hash must agree bit-for-bit
with their documented DuckDB twins on randomized inputs, not just on the
fixture corpora. Randomness is hypothesis-driven (seeded, shrinking);
each example ships a BATCH of values through one Spark job and one
DuckDB query so the property run stays fast."""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from movie_data_transformer_spark.functions.core import deterministic_avg, micro_ratio
from movie_data_transformer_spark.operators.text import (
    HASHED_LOGIT_SPARK_SQL,
    PORTABLE_HASH_SPARK_SQL,
    PORTABLE_HASH_SQL,
    portable_hash,
)

pairs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**15),
        st.integers(min_value=0, max_value=10**9),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=8, deadline=None)
@given(pairs)
def test_micro_ratio_matches_duckdb_twin(spark, data):
    rows = [(i, n, d) for i, (n, d) in enumerate(data)]
    df = spark.createDataFrame(rows, "id long, num long, den long")
    got = {
        r.id: r.v
        for r in df.select(
            "id", micro_ratio(F.col("num"), F.col("den")).alias("v")
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["id", "num", "den"]))
    want = {
        int(i): v
        for i, v in con.sql(
            "SELECT id, CAST(CAST(num AS HUGEINT) * 1000000 // den AS DOUBLE)"
            " / 1000000 AS v FROM t"
        ).fetchall()
    }
    for i, (n, d) in enumerate(data):
        if d == 0:
            assert got[i] is None and want[i] is None
            continue
        # Both halves of the property are scoped to the DOCUMENTED domain
        # (micro-quotient < 2^53). Both engines compute the exact integer
        # micro-quotient at any size, but above 2^53 the int->double cast
        # must round and DuckDB's HUGEINT->DOUBLE cast is NOT correctly
        # rounded (hypothesis found 999999999999995/33: duck truncates to
        # ...015e19 where round-to-nearest gives ...0153e19), so even the
        # cross-engine half only holds inside the domain.
        q = n * 1_000_000 // d
        if q < 2**53:
            assert got[i] == want[i], (n, d)
            assert got[i] == q / 1_000_000, (n, d)


cents_lists = st.lists(
    st.lists(
        st.integers(min_value=-10**9, max_value=10**9), min_size=1, max_size=20
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=8, deadline=None)
@given(cents_lists)
def test_deterministic_avg_matches_duckdb_twin(spark, groups):
    rows = [(g, c / 100.0) for g, vals in enumerate(groups) for c in vals]
    df = spark.createDataFrame(rows, "g long, v double")
    got = {
        r.g: r.a
        for r in df.groupBy("g").agg(deterministic_avg("v", 2, "a")).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["g", "v"]))
    want = {
        int(g): a
        for g, a in con.sql(
            "SELECT g, CAST(CAST(sum(CAST(v AS DECIMAL(18,2))) * 1000000 AS HUGEINT)"
            " // count(v) AS DOUBLE) / 1000000 AS a FROM t GROUP BY g"
        ).fetchall()
    }
    assert got == want


texts = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA0),
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=40,
    unique=True,
)


@settings(max_examples=8, deadline=None)
@given(texts)
def test_portable_hash_matches_duckdb_twin(spark, strings):
    """portable_hash, its Spark SQL spelling, and the hashed-linear logit
    all agree with their DuckDB twins. The logit runs over a plain
    single-space split, which both engines compute identically; the
    whitespace tokenizers differ on non-ASCII space (DuckDB's trim strips
    U+00A0, Spark's does not)."""
    rows = [(i, t) for i, t in enumerate(strings)]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r.id, r.h, r.h_sql, r.logit)
        for r in df.select(
            "id",
            portable_hash(F.col("s")).alias("h"),
            F.expr(PORTABLE_HASH_SPARK_SQL.format(x="s")).alias("h_sql"),
            F.expr(HASHED_LOGIT_SPARK_SQL.format(t="split(s, ' ')")).alias("logit"),
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["id", "s"]))
    duck_hash = PORTABLE_HASH_SQL.format(x="s")
    duck_logit = (
        "CAST(list_sum(list_transform(string_split(s, ' '),"
        f" x -> ({PORTABLE_HASH_SQL.format(x='x')} % 2001) - 1000)) AS BIGINT)"
    )
    want = {
        (int(i), int(h), int(h), int(lg))
        for i, h, lg in con.sql(
            f"SELECT id, {duck_hash} AS h, {duck_logit} AS lg FROM t"
        ).fetchall()
    }
    assert got == want


bucket_pairs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=255),
    ),
    min_size=1,
    max_size=80,
)


@given(bucket_pairs)
@settings(max_examples=20, deadline=None)
def test_morton_sql_matches_python_bit_interleave(spark, pairs_in):
    """The generated div/mod Morton SQL (layout_queries._morton_sql) is
    the canonical bit interleave: for random 8-bit bucket pairs it equals
    the reference Python implementation, and it round-trips (the
    interleave is a bijection on [0,256)^2 -> [0,65536))."""
    from movie_data_transformer_spark.operators.layout_queries import _morton_sql

    def py_morton(b1: int, b2: int) -> int:
        z = 0
        for i in range(8):
            z |= ((b1 >> i) & 1) << (2 * i)
            z |= ((b2 >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs_in, "b1 bigint, b2 bigint")
    got = [
        r.z for r in df.selectExpr(f"{_morton_sql('DIV')} AS z").collect()
    ]
    want = [py_morton(b1, b2) for b1, b2 in pairs_in]
    assert got == want
    # bijectivity spot check: de-interleave recovers the inputs
    for z, (b1, b2) in zip(want, pairs_in):
        r1 = sum(((z >> (2 * i)) & 1) << i for i in range(8))
        r2 = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
        assert (r1, r2) == (b1, b2)

    con = duckdb.connect()
    con.register("t", pd.DataFrame(pairs_in, columns=["b1", "b2"]))
    duck = [r[0] for r in con.execute(
        f"SELECT {_morton_sql('//')} FROM t"
    ).fetchall()]
    assert duck == want


words = st.lists(
    st.text(alphabet="abet h", min_size=1, max_size=8).map(str.strip).filter(bool),
    min_size=1,
    max_size=12,
)


@settings(max_examples=12, deadline=None)
@given(st.lists(words, min_size=1, max_size=8))
def test_bpe_replace_chain_cross_engine_and_python(spark, texts):
    """The fixed-merge BPE encode is a chained string replace; all three
    implementations of 'replace leftmost non-overlapping, scan resumes
    after the match' must agree on the FULL encoded string: Spark
    F.replace, DuckDB replace(), and Python str.replace. The alphabet is
    skewed onto the merge letters (t/h/e + space) so merges actually
    fire, including the adjacent-run cases where conventions diverge."""
    import duckdb as _dd

    from movie_data_transformer_spark.operators.bpe import apply_bpe_merges
    from movie_data_transformer_spark.operators.lm_queries import (
        BPE_FIXED_MERGES,
        SQL_BPE_ENCODE_FIXED,
    )

    docs = [(i, " ".join(ws)) for i, ws in enumerate(texts)]

    def py_encode(text: str) -> str:
        ws = [w for w in text.lower().strip().split() if w != ""] or [""]
        s = " " + " </w>  ".join(" ".join(w) for w in ws) + " </w> "
        for left, right in BPE_FIXED_MERGES:
            s = s.replace(f" {left} {right} ", f" {left}{right} ")
        return " ".join(s.split())

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.encoded
        for r in apply_bpe_merges(sdf, BPE_FIXED_MERGES, with_encoding=True).collect()
    }
    con = _dd.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    # reuse the registry oracle but surface the string instead of its md5
    oracle = SQL_BPE_ENCODE_FIXED.replace(
        "md5(regexp_replace(trim(s), ' +', ' ', 'g'))",
        "regexp_replace(trim(s), ' +', ' ', 'g')",
    )
    dd = {r[0]: r[3] for r in con.execute(oracle).fetchall()}
    for doc_id, text in docs:
        assert got[doc_id] == dd[doc_id] == py_encode(text), (doc_id, text)


daily_series = st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40)


@settings(max_examples=8, deadline=None)
@given(daily_series)
def test_cusum_window_identity_property(spark, vals):
    """For ANY daily series, the window form (prefix minus clamped
    running min) equals the sequential fold s_i = max(0, s_{i-1} +
    dev_i) — the identity events_cusum_drift rests on."""
    from movie_data_transformer_spark.operators.timeseries_extras_queries import (
        cusum_from_daily,
    )

    daily = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "day_idx long, n_events long"
    )
    rows = sorted(cusum_from_daily(daily).collect(), key=lambda r: r.day_idx)
    n, total = len(vals), sum(vals)
    s = 0
    for r, x in zip(rows, vals):
        s = max(0, s + (x * n - total))
        assert r.cusum_scaled == s
        assert r.is_drift == int(s > total)


match_sets = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=60
)


@settings(max_examples=8, deadline=None)
@given(match_sets)
def test_islands_streak_identity_property(spark, pts):
    """The diagonal-islands SQL (pos - row_number constant within a
    consecutive run) computes the longest consecutive-position streak
    per diagonal — checked against a direct Python computation for
    arbitrary (pos_a, pos_b) match sets on one doc pair."""
    pts = sorted(set(pts))
    df = spark.createDataFrame(
        [(1, 2, a, b) for a, b in pts],
        "doc_a long, doc_b long, pos_a long, pos_b long",
    )
    got = (
        df.selectExpr(
            "doc_a", "doc_b", "pos_a", "pos_a - pos_b AS diag"
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "diag",
            "pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag"
            " ORDER BY pos_a) AS island",
        )
        .groupBy("doc_a", "doc_b", "diag", "island")
        .count()
        .agg({"count": "max"})
        .collect()[0][0]
    )
    # direct: longest run of consecutive pos_a within each diagonal
    best = 0
    by_diag = {}
    for a, b in pts:
        by_diag.setdefault(a - b, set()).add(a)
    for s in by_diag.values():
        for a in s:
            if a - 1 not in s:
                run = 1
                while a + run in s:
                    run += 1
                best = max(best, run)
    assert got == best
