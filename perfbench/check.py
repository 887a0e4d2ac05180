"""Output check: each written result against its DuckDB oracle.

The compare rules are those of tools/verify_local.py: the oracle must not
emit HUGEINT/UHUGEINT/DECIMAL columns, the sorted column names must match,
the row counts must match, and every column must match value for value in
emitted row order (NaN/NULL equal to NaN/NULL). Entries without an oracle
are checked against a recorded row count.
"""
import glob
import hashlib
import os
import pickle

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
WIDE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


class Checker:
    def __init__(self, data_dir: str, cache_dir: str | None = None):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in TABLES:
            if os.path.exists(f"{data_dir}/{t}.parquet"):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
        self.cache_dir = cache_dir
        if cache_dir:
            os.makedirs(cache_dir, exist_ok=True)

    def written(self, out_dir: str) -> pd.DataFrame | None:
        """The written result, rows in emitted (part-file) order."""
        files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
        if not files:
            return None
        parts = [self.con.execute("SELECT * FROM read_parquet(?)", [f]).df()
                 for f in files]
        return pd.concat(parts, ignore_index=True)

    def oracle(self, sql: str) -> tuple[list, pd.DataFrame | None]:
        """(wide column types, expected frame); cached by SQL text."""
        path = None
        if self.cache_dir:
            key = hashlib.sha256(sql.encode()).hexdigest()[:32]
            path = os.path.join(self.cache_dir, key + ".pkl")
            if os.path.exists(path):
                with open(path, "rb") as f:
                    return pickle.load(f)
        types = self.con.execute(f"DESCRIBE ({sql})").fetchall()
        wide = [f"{name}:{typ}" for name, typ, *_ in types
                if any(w in str(typ).upper() for w in WIDE_TYPES)]
        res = (wide, None if wide else self.con.execute(sql).df())
        if path:
            tmp = f"{path}.{os.getpid()}"
            with open(tmp, "wb") as f:
                pickle.dump(res, f)
            os.replace(tmp, path)
        return res

    def check(self, out_dir: str, sql: str | None,
              expected_rows: int | None = None) -> str | None:
        """None when the output passes, else a one-line reason."""
        got = self.written(out_dir)
        if got is None:
            return "no parquet output"
        if sql is None:
            if len(got) == 0:
                return "0 rows"
            if expected_rows is not None and len(got) != expected_rows:
                return f"rows {len(got)} != recorded {expected_rows}"
            return None
        wide, exp = self.oracle(sql)
        if wide:
            return f"oracle emits driver-hostile type(s) {wide}"
        return compare(got, exp)


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return f"schema {gcols} != {ecols}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g = got[gcols].reset_index(drop=True)
    e = exp[ecols].reset_index(drop=True)
    bad = []
    for c in gcols:
        gc, ec = g[c], e[c]
        try:
            neq = ~((gc == ec) | (gc.isna() & ec.isna()))
        except Exception:
            neq = gc.astype(str) != ec.astype(str)
        if neq.any():
            i = int(neq.idxmax())
            bad.append(f"{c}[row {i}]: spark={gc[i]!r} oracle={ec[i]!r} "
                       f"({int(neq.sum())} diffs)")
    return "; ".join(bad[:3]) if bad else None
