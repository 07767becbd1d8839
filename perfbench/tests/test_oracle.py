"""The analytics check uses the repository's oracle comparison and catches
a planted one-cell fault (DuckDB only, no Spark)."""

import os

import oracle

TABLES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "sf0.001")
SQLS = {"nations": "SELECT n_nationkey, n_name FROM nation", "regions": "SELECT r_name FROM region"}


def _oracle_results():
    import duckdb

    con = duckdb.connect()
    out = {}
    for name, sql in SQLS.items():
        rel = con.sql(sql.replace("FROM nation", f"FROM '{TABLES}/nation.parquet'")
                      .replace("FROM region", f"FROM '{TABLES}/region.parquet'"))
        out[name] = (rel.columns, list(reversed(rel.fetchall())))
    con.close()
    return out


def test_oracle_results_pass_in_any_row_order():
    assert oracle.wrong_entries(TABLES, _oracle_results(), SQLS) == []


def test_planted_fault_is_reported_for_its_entry_only():
    got = _oracle_results()
    name, planted = oracle.plant_fault(got, SQLS)
    assert planted[name][1] != got[name][1]
    assert oracle.wrong_entries(TABLES, {**got, **planted}, SQLS) == [name]


def test_entry_without_oracle_must_return_rows():
    got = {"rows_only": (["a"], []), "errored": None}
    assert oracle.wrong_entries(TABLES, got, {}) == ["errored", "rows_only"]
