"""Output checks and digests.

Checks record into a :class:`Checks` tally, so a run can count checks
attempted and failed next to its operations. They read the
warehouse through ``Broker.read`` — the same snapshot the program's
readers see — and compare against what the generator planted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the base column a stage fills from: P fills NULL ``qc`` values, P_D
#: (no QC stage) fills NULL ``raw`` values
FILL_BASE = {"p": "qc", "p_d": "raw"}

_U64 = 1 << 64


def digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(digest, rows) of ``cols``: the digest is the sum mod 2^64 of a
    row hash, so row order does not matter. Doubles enter as integers
    (x100, half-even), so it compares stored values, not float
    formatting."""
    keyed = []
    for name, typ in df.select(*cols).dtypes:
        c = F.col(name)
        if typ in ("double", "float"):
            c = F.bround(c * 100).cast("long")
        keyed.append(c)
    h = F.xxhash64(*keyed).cast("decimal(38,0)")
    total, rows = df.agg(F.sum(h), F.count("*")).first()
    return int(total or 0) % _U64, rows


class Checks:
    def __init__(self):
        self.n = 0
        self.failures: list[str] = []

    def eq(self, what: str, got, want) -> None:
        self.n += 1
        if got != want:
            self.failures.append(f"{what}: got {got}, expected {want}")


def check_new_days(c: Checks, ts: DataFrame, para: str, lo, hi,
                   expected_rows: int) -> None:
    """Rows with ``lo <= timestamp < hi`` (the imported days) must all be
    present, every planted hole filled, ``filled_by`` set exactly on
    filled rows, and for P ``corr >= filled``."""
    part = ts.filter((F.col("timestamp") >= lo) & (F.col("timestamp") < hi))
    base = FILL_BASE[para]
    has_by = F.col("filled_by").isNotNull()
    stage_filled = F.col(base).isNull() & F.col("filled").isNotNull()
    aggs = [
        F.count("*").alias("rows"),
        F.count("filled").alias("filled"),
        F.sum((has_by != stage_filled).cast("int")).alias("by_mismatch"),
    ]
    if para == "p":
        aggs += [F.count("corr").alias("corr"),
                 F.sum((F.col("corr") < F.col("filled")).cast("int"))
                 .alias("corr_below")]
    r = part.agg(*aggs).first().asDict()
    c.eq(f"{para} rows in the new days", r["rows"], expected_rows)
    c.eq(f"{para} filled rows in the new days", r["filled"], r["rows"])
    c.eq(f"{para} rows where filled_by disagrees with filling", r["by_mismatch"], 0)
    if para == "p":
        c.eq("p new rows with corr", r["corr"], r["rows"])
        c.eq("p rows with corr < filled", r["corr_below"], 0)
