"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-
insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``async_pipes_spark`` package; this module
is a thin adapter.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from async_pipes_spark.plans.declared import DECLARED_QUERIES  # noqa: E402
from async_pipes_spark.plans.extensions import (  # noqa: E402
    EXTENSION_ORACLES,
    EXTENSION_QUERIES,
)
from async_pipes_spark.plans.joins import JOIN_ORACLES, JOIN_QUERIES  # noqa: E402
from async_pipes_spark.plans.oracles import DECLARED_ORACLES  # noqa: E402
from async_pipes_spark.plans.relational import (  # noqa: E402
    RELATIONAL_ORACLES,
    RELATIONAL_QUERIES,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference README's
    own map-reduce shape (P6 total-revenue fold)."""
    return DECLARED_QUERIES["p6_map_reduce"](spark, "/root/testdata/sf0.001")


#: Driver-contract ordering: a verification driver may record rows for
#: only the first 50 ``queries()`` entries, so dict order is driver
#: coverage. Queries without a fresh driver row come first; the
#: freshest greens sit at the tail. Every query keeps its oracle
#: regardless of position.
_PRIORITY = [
    # the r11 driver-red IVM family (HUGEINT falsification) + its
    # same-family green control v8
    "v7_", "v8_", "v4_", "s32_", "v5_", "v6_",
    # 44 of the 47 r09-evidence queries, oldest rows in the contract
    # (j1/j4/j5 verify the oracle-side BIGINT casts green-side)
    "j1_", "j2_", "j3_", "j4_", "j5_",
    "a11_", "a1_", "a5_", "a8_", "a9_", "b1_",
    "d13_", "d1_", "d2_", "d3_", "d4_", "d5_", "d6_", "d7_", "d8_",
    "k2_", "k3_",
    "s10_", "s11_", "s12_", "s13_", "s14_", "s15_", "s16_",
    "s24_", "s27_", "s30_", "s31_", "s4_", "s5_", "s9_",
    "t15_", "t1_", "t2_", "t3_", "t4_",
    "x4_", "x5_", "x6_",
    # ---- 50-cut ----
    # r09-green remainder that didn't fit the window
    "z1_", "z4_", "z5_",
    # r10-green rows
    "a2_", "a3_", "a4_", "a6_", "a7_", "b2_", "bpe1_", "bpe2_",
    "d10_", "f1_", "k1_", "k4_", "k5_", "mm4_", "mm5_",
    "p3_", "p5_", "p6_", "pipe1_", "pipe2_",
    *[f"r{i}_" for i in range(11, 19)],
    "s25_", "s26_", "s28_", "s29_",
    "smp1_", "smp2_", "smp3_", "smp4_", "smp6_", "smp7_",
    "t13_", "t16_", "t5_", "t6_", "x1_", "x3_", "z2_", "z3_",
    # r11-green tail (freshest driver rows in the contract)
    "d11_", "d12_", "d9_", "g1_", "g2_", "mm1_", "mm2_", "mm3_",
    "p1_", "p2_", "p4_", "p7_", "p8_", "p9_",
    *[f"r{i}_" for i in range(1, 11)],
    "s17_", "s18_", "s19_", "s20_", "s21_", "s22_", "s23_", "smp5_",
    "t7_", "t8_", "t9_", "t10_", "t11_", "t12_", "t14_",
    "v1_", "v2_", "v3_", "x2_", "a10_",
]


def _ordered(mapping: dict) -> dict:
    def rank(key: str) -> tuple[int, str]:
        for i, prefix in enumerate(_PRIORITY):
            if key.startswith(prefix):
                return (i, key)
        return (len(_PRIORITY), key)

    return dict(sorted(mapping.items(), key=lambda kv: rank(kv[0])))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(DECLARED_QUERIES)
    out.update(RELATIONAL_QUERIES)
    out.update(EXTENSION_QUERIES)
    out.update(JOIN_QUERIES)
    return _ordered(out)


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(DECLARED_ORACLES)
    out.update(RELATIONAL_ORACLES)
    out.update(EXTENSION_ORACLES)
    out.update(JOIN_ORACLES)
    return _ordered(out)
