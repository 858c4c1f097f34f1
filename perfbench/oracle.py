"""Result check against the registry's DuckDB oracles.

The hash and the column normalisation are the contract checker's own
(``value_hash`` and ``norm`` in tools/drive_contract.py). That script runs
its whole sweep at import, so the two functions are lifted out of its
syntax tree instead of importing it.
"""

from __future__ import annotations

import ast
import hashlib
import os

import pandas as pd


def load_contract_functions(repo_root: str) -> tuple:
    path = os.path.join(repo_root, "tools", "drive_contract.py")
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    wanted = {"value_hash", "norm"}
    defs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name in wanted]
    if {d.name for d in defs} != wanted:
        raise RuntimeError(f"{path} no longer defines {sorted(wanted)}")
    ns: dict = {"hashlib": hashlib, "pd": pd}
    exec(compile(ast.Module(body=defs, type_ignores=[]), path, "exec"), ns)
    return ns["value_hash"], ns["norm"]


class Oracle:
    def __init__(self, repo_root: str, data_dir: str, tables: list[str]) -> None:
        import duckdb

        self.value_hash, self.norm = load_contract_functions(repo_root)
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def check(self, sql: str | None, spark_pdf: pd.DataFrame) -> tuple[bool, str]:
        """(ok, detail) for one query's Spark result against its oracle."""
        if sql is None:
            return len(spark_pdf) > 0, "rows-only"
        s_ = self.norm(spark_pdf)
        d_ = self.norm(self.con.sql(sql).df())
        if len(s_) != len(d_):
            return False, f"rows {len(s_)} vs oracle {len(d_)}"
        hs, hd = self.value_hash(s_), self.value_hash(d_)
        return hs == hd, f"hash {hs} vs oracle {hd}"

    def close(self) -> None:
        self.con.close()
