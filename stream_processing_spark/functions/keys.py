"""Hash keys — the only code in the package that chooses a hash.

``eq_key`` is for keys whose value never leaves the engine; ``value_hash``
for integers that are part of a result and so must be recomputed
bit-for-bit by the DuckDB oracle. A source lint in
``tests/test_plan_lint.py`` keeps every ``xxhash64`` and ``conv`` here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def eq_key(*cols: Column | str) -> Column:
    """64-bit equality key over ``cols``: Spark's native ``xxhash64``.

    Use it only for equality, grouping, join keys and bucket routing
    (``pmod(eq_key(..), n)``); never emit it and never mirror it in an
    oracle (DuckDB has no xxhash64). Two distinct inputs collide with
    probability ~2⁻⁶⁴ per pair. Stored results depend on the hash
    staying the same (xxhash64, seed 42): the persisted bucket layouts
    of ``streaming/upsert.py`` and ``streaming/ingest_dedup.py``, and
    the bloom-filter bit positions ``tests/test_bloomjoin.py`` pins.
    """
    return F.xxhash64(*cols)


def value_hash(col: Column | str, n_hex: int) -> Column:
    """The first ``n_hex`` hex digits of ``md5(col)`` as a bigint —
    value-bearing, so any engine with md5 reproduces it. DuckDB twin:
    ``CAST('0x' || substr(md5(x), 1, n) AS BIGINT)``. At most 15 digits:
    16 overflow a signed bigint.
    """
    if not 1 <= n_hex <= 15:
        raise ValueError(f"n_hex={n_hex}: need 1 <= n_hex <= 15")
    return F.conv(F.substring(F.md5(col), 1, n_hex), 16, 10).cast("bigint")
