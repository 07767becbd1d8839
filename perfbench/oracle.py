"""Result checks for the analytics workload against each entry's DuckDB
oracle, with the repository's own oracle comparison (``tools/check_oracle.py``:
row count, column names, order-insensitive normalised values), so the
benchmark and the repository's correctness gate agree on every entry."""

from __future__ import annotations

import importlib.util
import os

_GATE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check_oracle.py")


def _gate():
    spec = importlib.util.spec_from_file_location("check_oracle", _GATE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def same(gate, got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> bool:
    (gcols, grows), (wcols, wrows) = got, want
    return (
        len(grows) == len(wrows)
        and sorted(c.lower() for c in gcols) == sorted(c.lower() for c in wcols)
        and gate.norm_rows(gcols, grows) == gate.norm_rows(wcols, wrows)
    )


def wrong_entries(tables_dir: str, got: dict, sqls: dict) -> list[str]:
    """Names whose result (``got[name]``: (columns, rows), or None for an
    error) differs from the DuckDB oracle, or, with no oracle, has no rows."""
    gate = _gate()
    con = gate.duckdb.connect()
    try:
        for t in gate.TABLES:
            p = os.path.join(tables_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        wrong = []
        for name, res in got.items():
            sql = sqls.get(name)
            if res is None or (sql is None and not res[1]):
                wrong.append(name)
            elif sql is not None:
                rel = con.sql(sql)
                if not same(gate, res, (rel.columns, rel.fetchall())):
                    wrong.append(name)
        return sorted(wrong)
    finally:
        con.close()


def plant_fault(got: dict, sqls: dict) -> tuple[str, dict] | None:
    """A copy of one checked entry's result with one cell changed, as
    ``(name, {name: result})``; None when no entry has an oracle and rows."""
    for name in sorted(got):
        res = got[name]
        if res is None or sqls.get(name) is None or not res[1]:
            continue
        cols, rows = res
        first = list(rows[0])
        first[0] = "planted" if first[0] is None else None
        return name, {name: (cols, [tuple(first)] + list(rows[1:]))}
    return None
