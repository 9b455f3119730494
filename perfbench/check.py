"""Output check: each first-pass result against its DuckDB oracle.

Uses the repository's own pre-verifier (``tools/verify_local.py``):
``duck_connect`` registers the generated tables and ``compare`` applies
the driver's order-insensitive, bit-exact comparison. The first-pass
rows are already collected, so ``compare`` gets them through a frame
that rebuilds what ``DataFrame.toPandas()`` would return instead of
running the query again. Oracle results are cached per query, oracle
SQL and fixture, see :class:`CachedOracle`.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql.types import IntegralType


class CollectedFrame:
    """The two members of a DataFrame that ``compare`` reads."""

    def __init__(self, schema, rows) -> None:
        self.schema = schema
        self.rows = rows

    def toPandas(self):
        import pandas as pd

        names = self.schema.names
        pdf = pd.DataFrame.from_records([tuple(r) for r in self.rows], columns=names)
        for i, field in enumerate(self.schema.fields):
            col = pdf.iloc[:, i]
            # Arrow conversion widens integer columns holding NULLs to float64
            if isinstance(field.dataType, IntegralType) and col.isna().any():
                pdf.isetitem(i, col.astype("float64"))
        return pdf


class CachedOracle:
    """A DuckDB relation's ``.df()``, computed once and kept on disk.

    Every seed permutes the same rows, so an oracle's result is the same
    multiset for every seed (``perfbench/tests`` checks this); some
    oracles take DuckDB tens of seconds, which would not fit in a run.
    The file name carries a hash of the SQL and of the fixture's
    signature, so a changed oracle or fixture is computed afresh.
    """

    def __init__(self, path: str, con, sql: str) -> None:
        self.path, self.con, self.sql = path, con, sql

    def df(self):
        import pandas as pd

        if not os.path.exists(self.path):
            self.con.sql(self.sql).df().to_pickle(self.path + ".tmp")
            os.replace(self.path + ".tmp", self.path)
        return pd.read_pickle(self.path)


def check_results(
    sf_dir: str, cache_dir: str, specs, names, first: dict, errors: dict
) -> dict[str, str]:
    """``name -> "ok"`` or the reason the query counts as failed."""
    from tools.verify_local import compare, duck_connect

    from perfbench.inputs import read_signature

    fixture = read_signature(sf_dir)
    con = duck_connect(sf_dir)
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    for name in names:
        if name in errors:
            out[name] = errors[name]
            continue
        oracle = specs[name].oracle
        if oracle is None:
            out[name] = "no DuckDB oracle registered"
            continue
        schema, rows = first[name]
        try:
            key = hashlib.sha256(f"{fixture}\n{oracle}".encode()).hexdigest()[:16]
            expected = CachedOracle(os.path.join(cache_dir, f"{name}_{key}.pkl"), con, oracle)
            ok, msg = compare(name, CollectedFrame(schema, rows), expected)
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            ok, msg = False, f"{type(e).__name__}: {e}"
        out[name] = "ok" if ok else msg
    con.close()
    return out
