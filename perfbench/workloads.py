"""The benchmark's workloads: one closed-loop client each.

A workload is ``setup(ctx)`` (timed as set-up), then ``op(ctx, i)``
for a fixed number of ops (see :func:`n_ops`; an op returns False when
the workload's inputs are used up), then ``check(ctx, checks)``. Every
op records its wall time as ``op_s`` and its CPU time as ``op_cpu_s``.
Every call into a measured layer goes through
``ctx.tracer.call(<module>.<call>, ...)``, which is a plain call unless
the run is traced.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from perfbench import checks, gen

#: the listed layer calls; each gets the trace counters in a traced run
CALLS = (
    "session.get_spark",
    "broker.update_raw",
    "broker.append_raw",
    "broker.last_imp_quality_check",
    "broker.last_imp_fillup",
    "broker.last_imp_corr",
    "broker.write_partition_append",
    "station.Station.get_df",
    "station.Stations.get_df",
    "station.GroupStations.create_ts",
    "llm.corpus.CorpusStore.append",
)

SHAPES = {
    # stations x days of history; the cycle's publish step reads the
    # last PUBLISH_DAYS days and aggregates the first two full months
    "daily_update": {"full": gen.Shape(10, 90), "tiny": gen.Shape(5, 62)},
    # docs per batch: the smallest append of tools/corpus_stress.py,
    # which it runs to show the per-append fixed cost
    "corpus_append": {"full": 5000, "tiny": 200},
}

PUBLISH_DAYS = 7
#: epochs written before the first append: past llm.corpus.EPOCH_PRUNE_MIN,
#: so the appends take the epoch-pruned verify path
PREBUILT_EPOCHS = 5
#: docs per prebuilt epoch. An append's cost tracks its batch, not the
#: archive (tools/corpus_stress.py checks that at 10M docs), so the
#: archive is kept small: it bounds the warm-up append in set-up
PREBUILT_DOCS = 1000


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    size: str
    #: overrides the daily_update shape's station count (scaling probes)
    stations: int | None = None
    wh: str = ""
    state: dict = field(default_factory=dict)
    #: per-op timings by name (seconds), filled by the ops
    timings: dict = field(default_factory=dict)

    def time(self, name: str, secs: float) -> None:
        self.timings.setdefault(name, []).append(secs)

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM (all its threads,
        Spark's local executors included), the Python workers it forks
        and this Python process."""
        stat = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        # fields after the name, which may hold spaces
                        stat[int(d)] = f.read().rsplit(")", 1)[1].split()
                except OSError:  # exited meanwhile
                    pass
        tree, todo = [], [self.spark.sparkContext._gateway.proc.pid]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo += [c for c, f in stat.items() if int(f[1]) == pid]
        # utime, stime, and cutime, cstime of exited children (fields 14-17)
        ticks = sum(int(x) for pid in tree if pid in stat for x in stat[pid][11:15])
        t = os.times()
        return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


def _ts(day: int, minutes: int = 0) -> datetime:
    return datetime.fromisoformat(gen.START) + timedelta(days=day, minutes=minutes)


def _fmt(t: datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _lit_ts(t: datetime):
    return F.lit(_fmt(t)).cast("timestamp")


# ---------------------------------------------------------------- daily
class DailyUpdate:
    """Set-up loads a staged warehouse: meta, raster and the four fact
    tables through ``update_raw``. One op is one day of P: ``append_raw``
    for P, ``last_imp_quality_check``, ``last_imp_fillup``,
    ``last_imp_corr``, then the publish step users run after an update —
    point reads of the last week, a monthly aggregate over stations, and
    a p/t/et export of the last week.

    P_D, T and ET are not imported per cycle (a four-parameter cycle does
    not fit the benchmark's time budget, see README); their staged
    history already covers the cycle days, so the P quality check and
    fillup find the day's P_D and the Richter correction finds filled T
    for every new P day."""

    name = "daily_update"
    NOMINAL_OP_S = 30.0
    APPENDED = ("p",)
    POINT_READS = 3
    #: days past the history that P_D, T and ET are staged for; caps the ops
    MAX_CYCLES = 20

    def setup(self, ctx: Ctx) -> None:
        from weatherdb_spark.broker import Broker

        shape = SHAPES[self.name][ctx.size]
        if ctx.stations:
            shape = gen.Shape(ctx.stations, shape.days)
        ctx.state["shape"] = shape
        ctx.wh = os.path.join(ctx.work, "warehouse")
        b = ctx.state["broker"] = Broker(ctx.spark, ctx.wh)
        ctx.state["exports"] = os.path.join(ctx.work, "exports")
        ctx.tracer.attach(ctx.spark, [ctx.wh, ctx.state["exports"]])
        b.update_meta(gen.meta(ctx.spark, ctx.seed, shape))
        b.update_ma_raster(gen.ma_raster(ctx.spark, ctx.seed, shape))
        for para in gen.PARAS:
            days = shape.days + (0 if para in self.APPENDED else self.MAX_CYCLES)
            ctx.tracer.call("broker.update_raw", b.update_raw, para,
                            gen.staged(ctx.spark, ctx.seed, shape, para, 0, days))
        ctx.state["untouched"] = self._untouched(ctx)
        ctx.state["rng"] = random.Random(ctx.seed)
        ctx.state["reads"] = []

    def _untouched(self, ctx: Ctx) -> dict:
        """Digests of the appended tables' rows a cycle must leave alone:
        those before the 2-day stage margin plus a day of shifted-day
        grouping."""
        shape, b = ctx.state["shape"], ctx.state["broker"]
        cut = _lit_ts(_ts(shape.days - 3))
        out = {}
        for para in self.APPENDED:
            t = b.read(f"ts_{para}").drop("station_bucket")
            out[para] = checks.digest(t.filter(F.col("timestamp") < cut), t.columns)[0]
        return out

    def op(self, ctx: Ctx, i: int) -> bool:
        from weatherdb_spark.station import GroupStations, Station, Stations

        shape, b, tr = ctx.state["shape"], ctx.state["broker"], ctx.tracer
        rng = ctx.state["rng"]
        day = shape.days + i
        c0, t0 = ctx.cpu_s(), time.perf_counter()
        for para in self.APPENDED:
            tr.call("broker.append_raw", b.append_raw, para,
                    gen.raw(ctx.spark, ctx.seed, shape, para, day, day + 1))
        tr.call("broker.last_imp_quality_check", b.last_imp_quality_check)
        tr.call("broker.last_imp_fillup", b.last_imp_fillup)
        tr.call("broker.last_imp_corr", b.last_imp_corr)
        t1 = time.perf_counter()
        ctx.time("update_cycle_s", t1 - t0)

        week = (_fmt(_ts(day - PUBLISH_DAYS + 1)), _fmt(_ts(day, 24 * 60 - 10)))
        ids = gen.station_ids(shape)
        for sid in rng.sample(ids, self.POINT_READS):
            t = time.perf_counter()
            rows = tr.call("station.Station.get_df", lambda: Station(
                b, sid, "p").get_df(kinds=("filled", "corr"), period=week).collect())
            ctx.time("read_point_s", time.perf_counter() - t)
            ctx.state["reads"].append(("point", sid, week, rows))
        months = (_fmt(_ts(0)), "2023-04-30 23:50:00")
        stids = sorted(rng.sample(ids, 4))
        t = time.perf_counter()
        agg = tr.call("station.Stations.get_df", lambda: Stations(b, "p").get_df(
            stids=stids, kind="corr", period=months, agg_to="month").collect())
        ctx.time("read_agg_s", time.perf_counter() - t)
        ctx.state["reads"].append(("agg", stids, months, agg))
        out_dir = os.path.join(ctx.state["exports"], str(i))
        stids = sorted(rng.sample(ids, 3))
        t = time.perf_counter()
        tr.call("station.GroupStations.create_ts", GroupStations(b).create_ts,
                stids, out_dir, parameters=("p", "t", "et"), kind="filled",
                period=week, agg_to="day")
        ctx.time("export_s", time.perf_counter() - t)
        ctx.state["reads"].append(("export", stids, out_dir, None))
        ctx.time("publish_s", time.perf_counter() - t1)
        ctx.time("op_s", time.perf_counter() - t0)
        ctx.time("op_cpu_s", ctx.cpu_s() - c0)
        ctx.state["cycles"] = i + 1
        return i + 1 < self.MAX_CYCLES

    def check(self, ctx: Ctx, c: checks.Checks) -> None:
        shape, b = ctx.state["shape"], ctx.state["broker"]
        n = ctx.state.get("cycles", 0)
        lo, hi = _lit_ts(_ts(shape.days)), _lit_ts(_ts(shape.days + n))
        for para in self.APPENDED:
            checks.check_new_days(
                c, b.read(f"ts_{para}"), para, lo, hi,
                shape.stations * shape.slots_per_day(para) * n)
        after = self._untouched(ctx)
        for para, d in ctx.state["untouched"].items():
            c.eq(f"{para} digest of rows the cycles must not change", after[para], d)
        rng = random.Random(ctx.seed + 1)
        point = [r for r in ctx.state["reads"] if r[0] == "point"]
        for _kind, sid, _period, rows in point:
            c.eq(f"point read {sid} rows", len(rows), PUBLISH_DAYS * gen.SLOTS)
        # a seeded sample of the last cycle's point reads must equal a
        # direct table read; a later cycle rewrites the end of an earlier
        # cycle's week (the last_imp margin), so only the last are current
        ts_p = b.read("ts_p")
        last = point[-self.POINT_READS:]
        for _kind, sid, (lo_s, hi_s), rows in rng.sample(last, min(2, len(last))):
            direct = ts_p.filter(
                (F.col("station_id") == sid)
                & F.col("timestamp").between(F.lit(lo_s).cast("timestamp"),
                                             F.lit(hi_s).cast("timestamp"))
            ).select("timestamp", "filled", "corr").collect()
            got = sorted((r["timestamp"], r["filled"], r["corr"]) for r in rows)
            want = sorted((r["timestamp"], r["filled"], r["corr"]) for r in direct)
            c.eq(f"point read {sid} values equal a direct read", got == want, True)
        for kind, stids, where, res in ctx.state["reads"]:
            if kind == "agg":
                # two whole months, one column per station plus timestamp
                c.eq("agg read buckets", len(res), 2)
                c.eq("agg read columns", len(res[0]) if res else 0, len(stids) + 1)
            elif kind == "export":
                for sid in stids:
                    for para in ("p", "t", "et"):
                        f = os.path.join(where, str(sid), f"{para.upper()}_{sid:0>5}.txt")
                        lines = open(f).read().splitlines() if os.path.exists(f) else []
                        # two meta header lines, one column header, a row a day
                        c.eq(f"export {para} {sid} lines", len(lines), PUBLISH_DAYS + 3)

    def digests(self, ctx: Ctx) -> tuple[dict, int]:
        b = ctx.state["broker"]
        out, rows = {}, 0
        for para in gen.PARAS:
            t = b.read(f"ts_{para}").drop("station_bucket")
            out[f"ts_{para}"], n = checks.digest(t, t.columns)
            rows += n
        return out, rows


# --------------------------------------------------------------- corpus
class CorpusAppend:
    """Set-up writes PREBUILT_EPOCHS clean epochs of PREBUILT_DOCS docs
    into a CorpusStore's epoch-partitioned documents table and runs one
    warm-up append of PREBUILT_DOCS docs (it builds the signature side
    tables). One op is one append of a seeded batch carrying the planted
    duplicates of ``gen.PLANTED``; its archive copies come from the
    prebuilt epochs."""

    name = "corpus_append"
    NOMINAL_OP_S = 10.0

    def setup(self, ctx: Ctx) -> None:
        from weatherdb_spark.llm.corpus import DOCS_TABLE, CorpusStore

        ctx.state["size"] = SHAPES[self.name][ctx.size]
        # archive copies of a batch come from ids 0 .. batch size
        assert ctx.state["size"] <= PREBUILT_EPOCHS * PREBUILT_DOCS
        ctx.wh = os.path.join(ctx.work, "corpus")
        store = ctx.state["store"] = CorpusStore(ctx.spark, ctx.wh)
        ctx.tracer.attach(ctx.spark, [ctx.wh])
        planted = F.pmod(F.col("doc_id"), F.lit(gen.PERIOD)).isin(list(gen.PLANTED))
        n, clean = PREBUILT_DOCS, 0
        for epoch in range(1, PREBUILT_EPOCHS + 1):
            docs = gen.corpus_batch(ctx.spark, ctx.seed, (epoch - 1) * n, n, False).docs
            clean += n - n // gen.PERIOD * len(gen.PLANTED)
            ctx.tracer.call("broker.write_partition_append",
                            store.broker.write_partition_append,
                            DOCS_TABLE, docs.filter(~planted), "ingest_epoch", epoch)
        warm = gen.corpus_batch(ctx.spark, ctx.seed, PREBUILT_EPOCHS * n, n, True)
        res = store.append(warm.docs)
        ctx.state["expected_docs"] = clean + warm.n - warm.dups
        ctx.state["results"] = [(warm, res)]

    def op(self, ctx: Ctx, i: int) -> bool:
        size, store = ctx.state["size"], ctx.state["store"]
        lo = (PREBUILT_EPOCHS + 1) * PREBUILT_DOCS + i * size
        batch = gen.corpus_batch(ctx.spark, ctx.seed, lo, size, True)
        c0, t0 = ctx.cpu_s(), time.perf_counter()
        res = ctx.tracer.call("llm.corpus.CorpusStore.append", store.append, batch.docs)
        ctx.time("append_s", time.perf_counter() - t0)
        ctx.time("op_s", time.perf_counter() - t0)
        ctx.time("op_cpu_s", ctx.cpu_s() - c0)
        ctx.state["results"].append((batch, res))
        ctx.state["expected_docs"] += batch.n - batch.dups
        return True

    def check(self, ctx: Ctx, c: checks.Checks) -> None:
        for batch, res in ctx.state["results"]:
            c.eq(f"append v{res['version']} admitted", res["admitted"],
                 batch.n - batch.dups)
            c.eq(f"append v{res['version']} rejected", res["rejected"], batch.dups)
        c.eq("stored docs", ctx.state["store"].read().count(),
             ctx.state["expected_docs"])

    def digests(self, ctx: Ctx) -> tuple[dict, int]:
        d, n = checks.digest(ctx.state["store"].read(), ["doc_id", "text"])
        return {"corpus_documents": d}, n


WORKLOADS = {w.name: w for w in (DailyUpdate(), CorpusAppend())}


def n_ops(workload, seconds: float) -> int:
    """Ops a run measures: ``seconds`` over the workload's nominal op
    time, at least one. It depends on the arguments only, never on the
    clock, so the op count — and with it the stored bytes and the mix
    of samples behind a median — does not change with the speed of the
    machine or of the program."""
    return max(1, round(seconds / workload.NOMINAL_OP_S))
