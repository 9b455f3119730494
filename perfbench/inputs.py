"""Seeded benchmark inputs built from a read-only fixture (sf0.1 in runs).

Every table is written as ONE parquet file (the program's fixture
preflight rejects directory tables), with the fixture's own writer
defaults. The seed permutes the rows of every table, so two seeds hold
the same multiset of rows in different file order and must give the
same query results.

The directory basename is unique per workload and seed, so the
program's ``.scratch/<basename>`` state belongs to one benchmark input.
The marker file holds the fixture's :func:`signature`; a set built from
another fixture, or by another version of this module, is rebuilt.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DONE = "_COMPLETE"


def fixture_root() -> str:
    """Directory of the read-only fixtures: the parent of the driver
    contract's own sf0.001 smoke set."""
    import __spark_entry__

    return os.path.dirname(__spark_entry__._T1_DIR)


def basename(workload: str, seed: int) -> str:
    return f"pb_{workload}_s{seed}"


def owns(entry: str, tag: str) -> bool:
    """Whether ``.scratch/<entry>`` belongs to the input set ``tag``: the
    program names it ``<tag>`` or ``<prefix>_<tag>[_<suffix>]``."""
    return re.search(rf"(^|_){re.escape(tag)}(_|$)", entry) is not None


def signature(fixture_dir: str) -> str:
    """Hash of the fixture tables' sizes and mtimes and of this module."""
    from sd2_drp_experimentgen_spark.schemas import TABLE_NAMES

    h = hashlib.sha256()
    with open(__file__, "rb") as f:
        h.update(f.read())
    for name in TABLE_NAMES:
        st = os.stat(f"{fixture_dir}/{name}.parquet")
        h.update(f"{name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


def read_signature(data_dir: str) -> str:
    """The signature a built input set was made from."""
    with open(os.path.join(data_dir, _DONE)) as f:
        return f.read()


def build(out_dir: str, seed: int, fixture_dir: str) -> str:
    """Write the seeded input set into ``out_dir`` (cached by a marker)."""
    from sd2_drp_experimentgen_spark.schemas import TABLE_NAMES

    sig = signature(fixture_dir)
    try:
        if read_signature(out_dir) == sig:
            return out_dir
    except FileNotFoundError:
        pass
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    for name in TABLE_NAMES:
        table = pq.read_table(f"{fixture_dir}/{name}.parquet")
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, _DONE), "w") as f:
        f.write(sig)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir
