"""Seeded input generators for the benchmark.

Everything the program under test receives is built here from
``(seed, shape)`` and nothing else: station meta, the multi-annual
raster, raw P (10-minute), P_D, T and ET series, a pre-staged history
(the columns the qc/fillup/corr stages would have written), and corpus
batches with planted duplicates. Values come from ``xxhash64(seed, salt,
key...)`` column arithmetic, so the same seed gives the same frames on
any machine and no data passes through the driver.

Planted structure:

- holes: at most one station per time slot has a NULL raw value, so
  every hole has donors for fillup;
- P rain is sparse (daily sums well under the QC-P 10 mm rule), so QC
  keeps almost every value;
- T and ET follow one regional daily curve plus a small station offset,
  so the neighbor-median QC keeps them.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: first day of the generated history; well past the 1999 min_date cut
START = "2023-03-01"
#: 10-minute slots per day
SLOTS = 144
GRID_M = 30_000.0
PARAS = ("p", "p_d", "t", "et")


@dataclass(frozen=True)
class Shape:
    stations: int
    days: int  # days of history written at set-up

    def slots_per_day(self, para: str) -> int:
        return SLOTS if para == "p" else 1


def _u(seed: int, salt: int, *cols) -> F.Column:
    """Uniform double in [0, 1) keyed on (seed, salt, cols)."""
    h = F.xxhash64(F.lit(seed), F.lit(salt), *cols)
    return F.pmod(h, F.lit(1_000_003)).cast("double") / 1_000_003.0


def station_ids(shape: Shape) -> list[int]:
    return list(range(1, shape.stations + 1))


def meta(spark: SparkSession, seed: int, shape: Shape) -> DataFrame:
    """One row per (station, parameter) on a jittered 30 km grid."""
    rng = random.Random(seed)
    rows = []
    width = max(2, int(shape.stations ** 0.5))
    for sid in station_ids(shape):
        x = (sid % width) * GRID_M + rng.uniform(-3000, 3000) + 400_000
        y = (sid // width) * GRID_M + rng.uniform(-3000, 3000) + 5_500_000
        elev = rng.randint(100, 900)
        horizon = float(rng.randint(0, 14))
        for para in PARAS:
            rows.append((sid, para, True, f"st{sid}", x, y, elev,
                         horizon if para == "p" else None))
    return spark.createDataFrame(
        rows,
        "station_id int, parameter string, is_real boolean, "
        "stationsname string, x_utm double, y_utm double, "
        "stationshoehe int, horizon double",
    )


def ma_raster(spark: SparkSession, seed: int, shape: Shape) -> DataFrame:
    rng = random.Random(seed * 7919 + 1)
    rows = []
    for sid in station_ids(shape):
        k = rng.random()
        for para, base, step in (("p", 800.0, 60.0), ("p_d", 800.0, 60.0),
                                 ("t", 9.0, 1.0), ("et", 550.0, 30.0)):
            terms = ("wihy", "suhy", "year") if para in ("p", "p_d") else ("year",)
            for term in terms:
                scale = 0.5 if term == "wihy" else 1.0
                rows.append((sid, para, term, round((base + k * step) * scale, 1)))
    return spark.createDataFrame(
        rows, "station_id int, parameter string, term string, value double"
    )


def _grid(spark: SparkSession, shape: Shape, para: str,
          day_lo: int, day_hi: int) -> DataFrame:
    """(station_id, slot, day, timestamp) for days [day_lo, day_hi)."""
    per_day = shape.slots_per_day(para)
    step = F.expr("INTERVAL 10 MINUTES" if para == "p" else "INTERVAL 1 DAY")
    slots = spark.range(day_lo * per_day, day_hi * per_day).select(
        F.col("id").alias("slot"))
    st = spark.range(1, shape.stations + 1).select(
        F.col("id").cast("int").alias("station_id"))
    return st.crossJoin(slots).select(
        "station_id", "slot",
        F.floor(F.col("slot") / per_day).cast("int").alias("day"),
        (F.lit(START).cast("timestamp") + F.col("slot") * step).alias("timestamp"),
    )


def _hole(seed: int, shape: Shape, salt: int) -> F.Column:
    """True on the (at most one) station that misses this slot; about
    one slot in four has a hole somewhere."""
    pick = F.pmod(F.xxhash64(F.lit(seed), F.lit(salt), F.col("slot")),
                  F.lit(4 * shape.stations)) + 1
    return pick == F.col("station_id")


def _raw_cols(seed: int, shape: Shape, para: str) -> list[F.Column]:
    sid, slot, day = F.col("station_id"), F.col("slot"), F.col("day")
    hole = _hole(seed, shape, salt=PARAS.index(para) + 11)
    season = F.sin(day * 0.0172)  # one regional yearly curve
    if para == "p":
        wet = _u(seed, 1, sid, slot) < 0.05
        amount = F.round(0.1 + _u(seed, 2, sid, slot) * 0.4, 1)
        raw = F.when(hole, None).when(wet, amount).otherwise(F.lit(0.0))
        return [raw.alias("raw"), F.lit(1).cast("short").alias("qn")]
    if para == "p_d":
        # never 0, so QC-P's "10-min sum 0 but daily != 0" rule only
        # fires on the (rare) fully dry 10-minute day
        raw = F.round(1.0 + _u(seed, 3, sid, day) * 3.0, 1)
        return [F.when(hole, None).otherwise(raw).alias("raw")]
    if para == "t":
        base = F.round(9.0 + 8.0 * season + _u(seed, 4, sid) * 0.6
                       + _u(seed, 5, sid, day) * 0.4, 1)
        raw = F.when(hole, None).otherwise(base)
        return [raw.alias("raw"), (raw - 3.0).alias("raw_min"),
                (raw + 3.0).alias("raw_max")]
    base = F.round(1.5 + 1.2 * season + _u(seed, 6, sid) * 0.3
                   + _u(seed, 7, sid, day) * 0.2, 1)
    return [F.when(hole, None).otherwise(base).alias("raw")]


def raw(spark: SparkSession, seed: int, shape: Shape, para: str,
        day_lo: int, day_hi: int) -> DataFrame:
    """Raw import frame for days [day_lo, day_hi): what a DWD import
    hands to ``update_raw`` / ``append_raw``."""
    g = _grid(spark, shape, para, day_lo, day_hi)
    return g.select("station_id", "timestamp", *_raw_cols(seed, shape, para))


def staged(spark: SparkSession, seed: int, shape: Shape, para: str,
           day_lo: int, day_hi: int) -> DataFrame:
    """Raw plus the stage columns the qc/fillup/corr stages would have
    written: the history the daily update extends. A hole is filled
    from the next station (``filled_by``); P ``corr`` is 8% above
    ``filled``."""
    g = _grid(spark, shape, para, day_lo, day_hi)
    g = g.select("station_id", "timestamp", "slot", "day",
                 *_raw_cols(seed, shape, para))
    donor = (F.pmod(F.col("station_id"), F.lit(shape.stations)) + 1)
    missing = F.col("raw").isNull()
    fill_val = F.round(_u(seed, 8, F.col("station_id"), F.col("slot"))
                       * (0.3 if para == "p" else 1.0) + 0.1, 1)
    filled = F.coalesce(F.col("raw"), fill_val)
    cols = ["station_id", "timestamp", "raw"]
    if para == "p":
        cols.append("qn")
    if para == "t":
        cols += ["raw_min", "raw_max"]
    out = g.select(*cols, filled.alias("filled"),
                   F.when(missing, donor.cast("short")).alias("filled_by"))
    if para != "p_d":
        out = out.withColumn("qc", F.col("raw"))
    if para == "t":
        out = (out.withColumn("filled_min", F.col("filled") - 3.0)
               .withColumn("filled_max", F.col("filled") + 3.0)
               .withColumn("filled_by", F.when(
                   missing, F.array(F.col("filled_by")))))
    if para == "p":
        out = out.withColumn("corr", F.round(F.col("filled") * 1.08, 2))
    return out


# --------------------------------------------------------------- corpus
VOCAB = [f"w{j}" for j in range(400)]


@dataclass(frozen=True)
class CorpusBatch:
    docs: DataFrame
    n: int
    dups: int  # planted duplicates the append must reject


#: planted duplicates repeat every PERIOD doc ids
PERIOD = 40
#: offset (doc_id % PERIOD) -> (kind, source id offset). The mix follows
#: tools/corpus_stress.py, the repo's corpus load: 5% exact duplicates,
#: there every 20th doc copying its predecessor. Here half of them do
#: that and half copy an archived doc, so both the batch and the archive
#: exact checks run. Near duplicates, which the stress tool does not
#: plant, come at the same 5%, split the same way; that rate has no
#: measured source. Exact copies repeat the source text.
#: A doc is 40 random words followed by its first two words again, so a
#: near copy — the same plus its third word — has a different md5 but
#: the same set of 3-word shingles: the MinHash bands always collide and
#: the verified Jaccard is 1. (A near copy with one new shingle is missed
#: whenever that shingle's hash is the band minimum: about one pair in
#: forty.) Sources are unplanted docs, so every planted doc is rejected
#: exactly once.
PLANTED = {
    19: ("exact", -1),       # within the batch: the predecessor
    10: ("near", -5),        # within the batch
    3: ("exact", None),      # the archive
    30: ("near", None),      # the archive
}


def corpus_batch(spark: SparkSession, seed: int, lo: int, size: int,
                 archive: bool) -> CorpusBatch:
    """``size`` docs with ids ``lo ..`` (``lo`` and ``size`` multiples of
    :data:`PERIOD`) carrying the duplicates of :data:`PLANTED`. Archive
    copies come from the stored unplanted docs with ids ``0 .. size``;
    with ``archive=False`` there are none, and the archive slots are
    unplanted."""
    assert lo % PERIOD == 0 and size % PERIOD == 0
    ids = spark.range(lo, lo + size).select(F.col("id").alias("doc_id"))
    off = F.pmod(F.col("doc_id"), F.lit(PERIOD))
    src = F.col("doc_id")
    near = F.lit(False)
    dups = 0
    for o, (kind, delta) in PLANTED.items():
        if delta is None and not archive:
            continue
        # the archive source of slot k of the batch is id k + 1:
        # offsets 4 and 31, both unplanted
        shift = delta if delta is not None else 1 - lo
        src = F.when(off == o, F.col("doc_id") + shift).otherwise(src)
        if kind == "near":
            near = near | (off == o)
        dups += size // PERIOD
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.element_at(
            vocab,
            (F.pmod(F.xxhash64(F.lit(seed), src, i), F.lit(len(VOCAB)))
             + 1).cast("int"),
        ),
    )
    text = F.array_join(F.concat(
        words, F.slice(words, 1, 2),
        F.when(near, F.slice(words, 3, 1)).otherwise(F.array().cast("array<string>")),
    ), " ")
    docs = ids.select("doc_id", text.alias("text"))
    return CorpusBatch(docs, size, dups)
