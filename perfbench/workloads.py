"""The benchmark's workloads.

Each workload has the same shape, driven by ``perfbench/run.py``:

- ``setup(ctx)`` makes the inputs from the seed (timed as set-up);
- ``op(ctx, i)`` is one operation a user waits for (timed as latency);
- ``check(ctx, i, out)`` compares the operation's output with a reference
  computed outside the timed path and returns the mismatches;
- ``instrument(ctx, tracer)`` installs the traced run's spans and
  ``layer_metrics(ctx, tracer, log)`` folds them, and the Spark event log,
  into per-layer metrics; ``traced_extra(ctx, tracer)``, where a workload
  has it, times further layers after the traced run's operations and
  returns the mismatches of its checks;
- ``summary(ctx)`` adds workload facts to the run's artifact.
- ``prepare_reference(ctx)``, where a workload has it, computes the
  checks' reference after the warm-up and before the measured operations,
  so that the driver process holds it through every measured operation.

``warmup_ops`` untimed operations (numbered -1, -2, ...) run between
set-up and measurement. A span with ``harness=True`` in its attributes
marks work the traced run adds to an operation; the harness takes it out
of the trace overhead and of the per-stage engine metrics.

Sizes are chosen so that one run, with its set-up, fits the benchmark's
time budget on a 4-core host.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import time
from types import SimpleNamespace

import numpy as np

from perfbench import eventlog, textdata
from perfbench.stats import median, percentile, rows_digest, tail_percentile

US = 1_000_000
MIN_US = 60 * US
HOUR_US = 3600 * US
DAY_US = 86400 * US

#: bulk_build input: the BENCH_r01-r05 cascade leg is 256 urls x 26 h
#: (10,129,648 points at seed 42, ``BulkBuild(42, n_urls=256)``). 8 urls is 1/32 of it with
#: the same hot/cold mix: generate_pages makes n_urls // 8 urls hot, so the
#: hot urls carry 58% of the points here and 57% at 256 urls
BULK_URLS = 8
BULK_HOURS = 26.0
GAP_PCT = 4.0
CHANNELS = ("text_len", "lang_en")

#: the long store: LONG_URLS hot urls at one page per minute from
#: 2021-02-01 for LONG_DAYS days, so February 2021 is a complete calendar
#: month (the shortest month keeps set-up short)
LONG_URLS = 2
LONG_DAYS = 29
LONG_SHIFT_DAYS = 392  # generate_pages starts 2020-01-06
#: the long store is the same for every seed, so it is built once per
#: checkout and copied into each run; the seed drives the slices and the
#: request mix
LONG_STORE_SEED = 0

#: late-arrival slices: N_SLICES regenerations (other seeds, so values
#: change) of the same SLICE_HOURS window, 2021-02-14 22:00 to 2021-02-15
#: 01:00. It spans two days and February's month stamp (02-14 23:59:30),
#: so one sync refreshes hour, day and month slots
N_SLICES = 4
SLICE_HOURS = 3
SLICE_OFFSET_US = 13 * DAY_US + 22 * HOUR_US
#: packed-hour requests end before the slice's day: the packed sibling is
#: written at build time and sync_changed does not refresh it
PACKED_LAST_START_DAY = 10

REQUEST_LIMIT_SAMPLES = 345_600


def mods() -> SimpleNamespace:
    """Program modules, imported after the harness has put the checkout on
    ``sys.path``."""
    from usgs_geomag_algorithms_spark import tiers
    from usgs_geomag_algorithms_spark.operators import cascade, month, rollup, segments
    from usgs_geomag_algorithms_spark.plans import pipeline, refresh, serve
    from usgs_geomag_algorithms_spark.sources import pages, signals, store

    return SimpleNamespace(
        tiers=tiers, cascade=cascade, month=month, rollup=rollup, segments=segments,
        pipeline=pipeline, refresh=refresh, serve=serve, pages=pages, signals=signals,
        store=store,
    )


def agree_15(a, b) -> bool:
    """Equal to 15 significant digits: NULL/NaN only match themselves and
    numbers differ by at most one unit in the 15th significant digit (two
    summation orders of the same weighted mean differ in the last bits)."""
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= 1e-14 * max(abs(a), abs(b), 1e-300)


def compare_rows(got: dict, want: dict, what: str) -> list[str]:
    """``got``/``want`` map a key tuple to a value; returns mismatches."""
    errs = []
    if len(got) != len(want):
        errs.append(f"{what}: {len(got)} rows, expected {len(want)}")
    for k, v in want.items():
        if k not in got:
            errs.append(f"{what}: missing row {k}")
        elif not agree_15(got[k], v):
            errs.append(f"{what}: {k} = {got[k]!r}, expected {v!r}")
        if len(errs) > 5:
            break
    return errs


def data_files(path: str) -> dict:
    """{parquet file: bytes} under ``path``, metadata and trash excluded."""
    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(root, fn)
                out[p] = os.path.getsize(p)
    return out


def pq_column(path: str, column: str) -> list:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=[column])[column].to_pylist()


def span_ms(spans) -> float:
    """Mean duration of ``spans`` in ms (0 when there are none)."""
    return 1e3 * sum(s.duration for s in spans) / len(spans) if spans else 0.0


def pages_base_us() -> int:
    return mods().pages.BASE_EPOCH * US


def shifted_pages(spark, shift_us: int, **kw):
    """generate_pages with every ``warc_ts`` moved by ``shift_us``."""
    from pyspark.sql import functions as F

    return mods().pages.generate_pages(spark, **kw).withColumn(
        "warc_ts", F.expr(f"timestamp_micros(unix_micros(warc_ts) + {shift_us})"))


# ------------------------------------------------------------------ oracle
def cascade_oracle(points: dict, scan_lo: int, scan_hi: int) -> dict:
    """NumPy reference for the second->minute->hour->day tiers.

    ``points`` maps (url, channel) to (t_us array, value array) on the 1 s
    grid. Returns {tier: {(url, channel, t_us): value or None}}: a slot
    is present when its window holds at least one input row (the engine's
    long-format rule) and NULL when the 10% rule masks it."""
    from tests.oracle_numpy import apply_step_oracle

    step = {s.data_interval: s for s in mods().tiers.STEPS}
    out = {"minute": {}, "hour": {}, "day": {}}
    n = (scan_hi - scan_lo) // US + 1
    for (url, ch), (ts, vals) in points.items():
        idx = (ts - scan_lo) // US
        dense = np.full(n, np.nan)
        dense[idx] = vals
        present = np.zeros(n)
        present[idx] = 1.0
        m_t, m_v = apply_step_oracle(step["minute"], scan_lo, dense)
        _, m_p = apply_step_oracle(step["minute"], scan_lo, present)
        if not len(m_t):
            continue
        m_v = np.where(m_p > 0, m_v, np.nan)
        for t, v, p in zip(m_t, m_v, m_p):
            if p > 0:
                out["minute"][(url, ch, int(t))] = None if np.isnan(v) else float(v)
        for tier in ("hour", "day"):
            t_o, v_o = apply_step_oracle(step[tier], int(m_t[0]), m_v)
            _, p_o = apply_step_oracle(step[tier], int(m_t[0]), (m_p > 0).astype(float))
            for t, v, p in zip(t_o, v_o, p_o):
                if p > 0:
                    out[tier][(url, ch, int(t))] = None if np.isnan(v) else float(v)
    return out


def read_points(pages_path: str) -> dict:
    """Input signal points straight from the pages parquet (pyarrow, no
    Spark): text_len = characters of text, lang_en = 1.0 for 'en'."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    tbl = ds.dataset(pages_path, format="parquet").to_table(
        columns=["url", "warc_ts", "text", "lang"])
    url = tbl["url"].to_numpy(zero_copy_only=False)
    ts_type = tbl.schema.field("warc_ts").type
    t_us = tbl["warc_ts"].cast(pa.timestamp("us", tz=ts_type.tz)).cast(pa.int64()).to_numpy()
    chans = {
        "text_len": pc.utf8_length(tbl["text"]).to_numpy(zero_copy_only=False).astype(float),
        "lang_en": (tbl["lang"].to_numpy(zero_copy_only=False) == "en").astype(float),
    }
    out = {}
    order = np.lexsort((t_us, url))
    url, t_us = url[order], t_us[order]
    chans = {ch: vals[order] for ch, vals in chans.items()}
    bounds = np.flatnonzero(np.r_[True, url[1:] != url[:-1], True])
    for a, b in zip(bounds[:-1], bounds[1:]):
        for ch, vals in chans.items():
            out[(str(url[a]), ch)] = (t_us[a:b], vals[a:b])
    return out


# --------------------------------------------------------------- workloads
class Workload:
    name = ""
    #: untimed operations run after set-up, before the measured ones
    warmup_ops = 1

    def __init__(self, seed: int):
        self.seed = seed


class BulkBuild(Workload):
    """pages -> build_tiers(pack_coarse=("hour", "day")) -> fresh TierStore.

    The traced run also times the text, dedup and ANN queries of
    ``__spark_entry__.queries()`` named in ``textdata.QUERIES``, over
    seeded tables, after its measured operations: one pass collected and
    checked against DuckDB, then one traced pass to a noop sink."""

    name = "bulk_build"

    def __init__(self, seed: int, n_urls: int = BULK_URLS):
        super().__init__(seed)
        self.n_urls = n_urls
        self.stored_bytes = 0
        self.tier_rows: dict = {}
        self.build_s: list = []
        self.text_check: dict = {}

    def setup(self, ctx) -> None:
        from pyspark.sql import functions as F

        m = mods()
        self.pages_path = os.path.join(ctx.work, "pages")
        (
            m.pages.generate_pages(ctx.spark, n_urls=self.n_urls, hours=BULK_HOURS,
                                   gap_pct=GAP_PCT, seed=self.seed)
            # the columns the cascade reads, in the (url, day) file clustering
            # of bench.py::prepare_pages
            .select("url", "warc_ts", "text", "lang")
            .repartition(4 * ctx.cores, "url", F.to_date(F.col("warc_ts")))
            .sortWithinPartitions("url", "warc_ts")
            .write.mode("overwrite").parquet(self.pages_path)
        )
        self.pages = ctx.spark.read.parquet(self.pages_path)
        base = pages_base_us()
        # the fir-widened scan range of bench.py::bench_cascade
        self.scan = (base - 45 * US, base + int(BULK_HOURS * 3600 - 1) * US)

    def op(self, ctx, i):
        m = mods()
        root = os.path.join(ctx.work, f"bulk-store-{i}")
        shutil.rmtree(root, ignore_errors=True)
        store = m.store.TierStore(ctx.spark, root)
        t0 = time.perf_counter()
        metrics = m.pipeline.build_tiers(self.pages, store, *self.scan, channels=CHANNELS,
                                         pack_coarse=("hour", "day"))
        if i >= 0 and ctx.tracer is None:
            self.build_s.append(time.perf_counter() - t0)
        return store, metrics

    def traced_extra(self, ctx, tracer) -> list[str]:
        import __spark_entry__ as entry

        text_dir = os.path.join(ctx.work, "text")
        textdata.write_tables(text_dir, self.seed)
        queries = entry.queries()
        collected = {q: (df.columns, df.collect())
                     for q, df in ((q, queries[q](ctx.spark, text_dir)) for q in textdata.QUERIES)}
        self.text_check = textdata.check_rows(collected, text_dir)
        tracer.op = "text"
        for q in textdata.QUERIES:
            ctx.spark.catalog.clearCache()
            with tracer.span(f"core18.{q}.build"):
                df = queries[q](ctx.spark, text_dir)
            with tracer.span(f"core18.{q}.exec"):
                df.write.format("noop").mode("overwrite").save()
        return [e for e in self.text_check.values() if e]

    def reference(self):
        """Oracle tiers, from the pages parquet through NumPy: row counts
        of every series, values of four seeded sample urls."""
        if not hasattr(self, "ref"):
            points = read_points(self.pages_path)
            self.input_points = int(sum(len(t) for t, _ in points.values()))
            urls = sorted({u for u, _ in points})
            self.sample_urls = sorted(random.Random(self.seed).sample(urls, min(4, len(urls))))
            full = cascade_oracle(points, *self.scan)
            self.ref_counts = {t: len(rows) for t, rows in full.items()}
            self.ref = {
                t: {k: v for k, v in rows.items() if k[0] in self.sample_urls}
                for t, rows in full.items()
            }
        return self.ref

    def prepare_reference(self, ctx) -> None:
        self.reference()

    def check(self, ctx, i, out) -> list[str]:
        store, metrics = out
        ref = self.reference()
        errs = []
        for tier in ("minute", "hour", "day"):
            if metrics["tiers"].get(tier) != self.ref_counts[tier]:
                errs.append(f"{tier}: {metrics['tiers'].get(tier)} rows, oracle {self.ref_counts[tier]}")
            got = {
                (r.url, r.channel, r.t_us): r.value
                for r in store.read(tier, series=self.sample_urls).collect()
            }
            errs += compare_rows(got, ref[tier], f"{tier} sampled series")
        if metrics["tiers"].get("month") != 0:
            errs.append(f"month: {metrics['tiers'].get('month')} rows over 26 h, expected 0")
        self.stored_bytes = sum(data_files(store.root).values())
        self.tier_rows = dict(metrics["tiers"])
        shutil.rmtree(store.root, ignore_errors=True)
        return errs

    def summary(self, ctx) -> dict:
        self.reference()
        return {
            "input_points": self.input_points,
            "stored_bytes_per_point": self.stored_bytes / self.input_points,
            "tier_rows": self.tier_rows,
            "build_s": self.build_s,
            "text_check": self.text_check,
        }

    def instrument(self, ctx, tracer) -> None:
        m = mods()
        TierStore = m.store.TierStore
        tracer.patch(m.pipeline, "build_tiers", "pipeline.build_tiers")
        tracer.patch(m.pipeline, "page_signals", "signals.page_signals")
        tracer.patch(m.pipeline, "run_tiers", "cascade.run_tiers")
        tracer.patch(m.cascade, "rollup_step", "cascade.rollup_step")
        tracer.patch(m.month, "rollup_month", "month.rollup_month")
        # the concrete (classic) DataFrame class: the per-tier re-scan
        tracer.patch(type(self.pages), "count", "df.count")

        def noop_then_write(span, args, kwargs, call):
            # each tier runs once to a noop sink before its store write, so
            # its compute time reads apart from the write; the noop run is
            # the benchmark's own work (harness=True)
            store, df, tier = args[0], args[1], args[2]
            with tracer.span("month.exec" if tier == "month" else f"rollup.{tier}_exec",
                             harness=True):
                df.write.format("noop").mode("overwrite").save()
            before = data_files(store.path(tier))
            with tracer.span("store.write_commit"):
                res = call()
            added = [s for p, s in data_files(store.path(tier)).items() if p not in before]
            span.attrs.update(files=len(added), bytes=sum(added))
            return res

        def packed_files(span, args, kwargs, call):
            store, tier = args[0], args[2]
            res = call()
            files = data_files(store.path(f"{tier}_packed"))
            span.attrs.update(files=len(files), bytes=sum(files.values()))
            return res

        tracer.patch(TierStore, "write", "store.write", around=noop_then_write)
        tracer.patch(TierStore, "write_packed", "store.write_packed", around=packed_files)

    def layer_metrics(self, ctx, tracer, log) -> dict:
        n = max(len(tracer.find("pipeline.build_tiers")), 1)
        writes = tracer.find("store.write") + tracer.find("store.write_packed")
        out = {
            "signals.plan_ms": 1e3 * tracer.total("signals.page_signals") / n,
            "cascade.plan_ms": 1e3 * tracer.total("cascade.run_tiers") / n,
            "rollup.minute_exec_s": tracer.total("rollup.minute_exec") / n,
            "rollup.hour_exec_s": tracer.total("rollup.hour_exec") / n,
            "rollup.day_exec_s": tracer.total("rollup.day_exec") / n,
            "month.exec_s": tracer.total("month.exec") / n,
            "store.write_s": tracer.total("store.write_commit") / n,
            "store.write_packed_s": tracer.total("store.write_packed") / n,
            "store.rescan_s": tracer.total("df.count", "pipeline.build_tiers") / n,
            "store.files_written": sum(s.attrs.get("files", 0) for s in writes) / n,
            "store.bytes_written": sum(s.attrs.get("bytes", 0) for s in writes) / n,
            "store.bytes_per_point": self.stored_bytes / self.input_points,
            # untraced: the paired untraced operations
            "build.points_per_s": self.input_points / median(self.build_s) if self.build_s else 0.0,
            "core18.total_s": sum(s.duration for s in tracer.spans if s.op == "text"),
        }
        for q in textdata.QUERIES:
            for part in ("build", "exec"):
                out[f"core18.{q}.{part}_s"] = tracer.total(f"core18.{q}.{part}")
        return out


def long_window() -> tuple[int, int]:
    """First and last minute of the long store."""
    lo = pages_base_us() + LONG_SHIFT_DAYS * DAY_US
    return lo, lo + LONG_DAYS * DAY_US - MIN_US


def build_long_store(spark, root: str) -> None:
    """The long store: the minute tier written straight from one-page-per-
    minute pages, then hour, day and month through ``run_tiers`` over the
    stored minute tier; hour also Gorilla-packed."""
    m = mods()
    shutil.rmtree(root, ignore_errors=True)
    store = m.store.TierStore(spark, root)
    pages = shifted_pages(spark, LONG_SHIFT_DAYS * DAY_US, n_urls=LONG_URLS,
                          hours=LONG_DAYS * 24.0, base_period_s=60, gap_pct=GAP_PCT,
                          seed=LONG_STORE_SEED, n_hot=LONG_URLS)
    store.write(m.signals.page_signals(pages, channels=CHANNELS), "minute")
    for name, df in m.cascade.run_tiers(store.read("minute"), 60.0, *long_window()).items():
        store.write(df, name)
        if name == "hour":
            store.write_packed(store.read(name), name)


def source_key(root: str) -> str:
    """Digest of the program's Python sources and the benchmark's own
    modules (its tests excluded)."""
    import glob
    import hashlib

    h = hashlib.sha256()
    paths = sorted(glob.glob(os.path.join(root, "usgs_geomag_algorithms_spark", "**", "*.py"),
                             recursive=True))
    for path in paths + sorted(glob.glob(os.path.join(root, "perfbench", "*.py"))):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cached_long_store(root: str) -> str:
    """The pristine long store of this checkout's sources, under
    ``.bench_work/cache``. The first run of a checkout, whichever workload
    it is, builds it in a child process (``perfbench/longstore.py``), so
    every measured process starts from the same JVM state."""
    import subprocess
    import sys

    cache = os.path.join(root, ".bench_work", "cache")
    path = os.path.join(cache, f"long-{source_key(root)}")
    if not os.path.isdir(path):
        shutil.rmtree(cache, ignore_errors=True)
        os.makedirs(cache)
        subprocess.run([sys.executable, os.path.join(root, "perfbench", "longstore.py"),
                        path + ".tmp"], cwd=root, check=True, timeout=600, stdout=sys.stderr)
        os.rename(path + ".tmp", path)
    return path


def expected_auto_tier(start_us: int, end_us: int) -> str:
    """The finest tier build_tiers writes whose sample count over the window
    fits the request cap."""
    for tier, secs in (("minute", 60), ("hour", 3600), ("day", 86400)):
        if (end_us - start_us) // (secs * US) + 1 <= REQUEST_LIMIT_SAMPLES:
            return tier
    raise ValueError("window exceeds the request cap at every tier")


def spine_times(tier: str, start_us: int, end_us: int) -> list[int]:
    """Serving grid over [start, end]: minute on the minute; hour and day
    center-stamped, (delta - 60 s) / 2 past the interval start; month at
    month start + (days * 86400 - 60) / 2 s."""
    import calendar
    import datetime as dt

    if tier == "month":
        out = []
        d = dt.datetime.fromtimestamp(start_us // US, tz=dt.timezone.utc).replace(
            day=1, hour=0, minute=0, second=0)
        while True:
            days = calendar.monthrange(d.year, d.month)[1]
            stamp = int(d.timestamp()) * US + (43_200 * days - 30) * US
            if stamp > end_us:
                return out
            if stamp >= start_us:
                out.append(stamp)
            d += dt.timedelta(days=days)
    delta = {"minute": 60, "hour": 3600, "day": 86400}[tier] * US
    shift = (delta - 60 * US) // 2 if delta > 60 * US else 0
    t0 = -(-(start_us - shift) // delta) * delta + shift
    return list(range(t0, end_us + 1, delta))


class SyncServe(Workload):
    """A late slice lands and the dashboard reloads. One operation is:
    read the next late-arrival slice, ``TierStore.upsert`` its minute
    signals, ``pipeline.sync_changed`` (hour and day through
    ``refresh.refresh_changed``, month through ``refresh.refresh_month``),
    then one closed-loop client's pass over a seeded ``get_timeseries``
    mix against the updated store. Set-up copies a pristine long store, so
    every run applies the same slice sequence to the same store."""

    name = "sync_serve"
    KINDS = ("auto_zoom", "hour_packed", "day_long", "month_long")

    def setup(self, ctx) -> None:
        from pyspark.sql import functions as F

        m = mods()
        path = os.path.join(ctx.work, "long")
        shutil.copytree(cached_long_store(ctx.root), path)
        self.store = m.store.TierStore(ctx.spark, path)
        self.lo, self.hi = long_window()
        self.urls = sorted({u for f in data_files(os.path.join(path, "day"))
                            for u in pq_column(f, "url")})
        self.requests = self.make_requests()
        shift = self.lo + SLICE_OFFSET_US - pages_base_us()
        frames = [
            shifted_pages(ctx.spark, shift, n_urls=LONG_URLS, hours=float(SLICE_HOURS),
                          base_period_s=60, gap_pct=GAP_PCT, seed=self.seed + 7919 * (k + 1),
                          n_hot=LONG_URLS).withColumn("slice", F.lit(k))
            for k in range(N_SLICES)
        ]
        self.slices_path = os.path.join(ctx.work, "slices")
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        df.write.partitionBy("slice").parquet(self.slices_path)
        self.slice_points = {
            k: len(CHANNELS) * sum(len(pq_column(f, "url")) for f in
                                   data_files(os.path.join(self.slices_path, f"slice={k}")))
            for k in range(N_SLICES)
        }
        # derived slots the slice can reach: hour and day over its two
        # days, and February's month slot
        d0 = self.lo + (SLICE_OFFSET_US // DAY_US) * DAY_US
        self.reach = {"hour": (d0, d0 + 2 * DAY_US - 1), "day": (d0, d0 + 2 * DAY_US - 1),
                      "month": (self.lo, self.lo + 28 * DAY_US - 1)}
        self.prior = None  # derived slot values after the last checked operation
        self.refs: dict = {}
        self.request_s: list = []
        self.sync_s: list = []
        self.useful: dict = {}

    def make_requests(self) -> list[dict]:
        """One request per kind: a 5-day minute zoom on one url through
        ``tier="auto"`` as IMFJSON, hour over all urls from the packed
        layout, and day and month over the whole store; all padded."""
        rng = random.Random(self.seed)
        lo, hi = self.lo, self.hi
        reqs = []
        for kind in self.KINDS:
            if kind == "auto_zoom":
                days = 5  # > 4 days: resolves to the minute tier
                a = lo + rng.randrange((LONG_DAYS - days) * 24) * HOUR_US
                r = dict(tier="auto", start=a, end=a + days * DAY_US - 1,
                         urls=[rng.choice(self.urls)], as_json=True)
            elif kind == "hour_packed":
                a = lo + rng.randrange(PACKED_LAST_START_DAY + 1) * DAY_US
                r = dict(tier="hour", start=a, end=a + 3 * DAY_US - 1, use_packed=True)
            elif kind == "day_long":
                r = dict(tier="day", start=lo, end=hi)
            else:
                r = dict(tier="month", start=lo, end=hi)
            reqs.append(dict(r, kind=kind))
        return reqs

    def request(self, ctx, r):
        kw = {k: r[k] for k in ("urls", "use_packed", "as_json") if k in r}
        return mods().serve.get_timeseries(self.store, r["tier"], r["start"], r["end"], pad=True, **kw)

    def op(self, ctx, i):
        m = mods()
        k = i % N_SLICES
        v0 = self.store.current_version("minute")
        t0 = time.perf_counter()
        late = ctx.spark.read.parquet(self.slices_path).where(f"slice = {k}").drop("slice")
        self.store.upsert(m.signals.page_signals(late, channels=CHANNELS), "minute")
        sync = m.pipeline.sync_changed(self.store, v0)
        sync_s = time.perf_counter() - t0
        served = []
        for j, r in enumerate(self.requests):
            t = time.perf_counter()
            served.append((r, self.serve_one(ctx, r, f"request-{i}-{j}")))
            if i >= 0 and ctx.tracer is None:
                self.request_s.append(time.perf_counter() - t)
        if i >= 0 and ctx.tracer is None:
            self.sync_s.append(sync_s)
        return {"slice": k, "sync": sync, "served": served}

    def serve_one(self, ctx, r, group: str):
        if ctx.tracer is None:
            return self.request(ctx, r).collect()
        # traced: execution span per response format, and the Spark jobs
        # the request dispatches
        with ctx.tracer.span("serve.request"):
            df = self.request(ctx, r)
            sc = ctx.spark.sparkContext
            sc.setJobGroup(group, group)
            kind = "json" if r.get("as_json") else "packed" if r.get("use_packed") else "long"
            with ctx.tracer.span(f"serve.{kind}_exec") as s:
                rows = df.collect()
            sc.setLocalProperty("spark.jobGroup.id", None)
        s.attrs.update(jobs=len(sc.statusTracker().getJobIdsForGroup(group)),
                       rows=len(self.flatten(r, rows)))
        return rows

    @staticmethod
    def flatten(r, rows) -> list[tuple]:
        if r.get("as_json"):
            out = []
            for row in rows:
                doc = json.loads(row.json)
                out += [(doc["url"], doc["channel"], t, v) for t, v in zip(doc["times"], doc["values"])]
            return out
        return [(x.url, x.channel, x.t_us, x.value) for x in rows]

    def reference(self, r) -> tuple[int, str]:
        """Direct TierStore.read of the expected tier, padded in Python onto
        the expected spine; kept while the request's window stays clear of
        the slots a slice reaches."""
        key = json.dumps(r, sort_keys=True)
        lo, hi = self.reach["day"]
        if key in self.refs and (r["end"] < lo or r["start"] > hi):
            return self.refs[key]
        tier = r["tier"] if r["tier"] != "auto" else expected_auto_tier(r["start"], r["end"])
        df = self.store.read(tier, r["start"], r["end"])
        if r.get("urls"):
            df = df.where(df.url.isin(r["urls"]))
        data = {(x.url, x.channel, x.t_us): x.value for x in df.collect()}
        series = sorted({(u, c) for u, c, _ in data})
        grid = spine_times(tier, r["start"], r["end"])
        self.refs[key] = rows_digest((u, c, t, data.get((u, c, t))) for u, c in series for t in grid)
        return self.refs[key]

    def check_served(self, served) -> list[str]:
        errs = []
        for r, rows in served:
            got, want = rows_digest(self.flatten(r, rows)), self.reference(r)
            if got != want:
                errs.append(f"{r['kind']} {r['tier']} [{r['start']}, {r['end']}]: {got[0]} "
                            f"rows / {got[1][:12]}, expected {want[0]} rows / {want[1][:12]}")
        return errs

    def check_sync(self) -> tuple[list[str], dict]:
        """Hour and day over the slice's two days equal ``rollup_step`` over
        the updated minute tier; February's month slot equals
        ``rollup_month`` over the day tier. Also returns the stored values
        it read, {(tier, url, channel, t_us): value}."""
        m = mods()
        errs, stored = [], {}
        steps = {s.data_interval: s for s in m.tiers.STEPS}
        for tier in ("hour", "day", "month"):
            a, b = self.reach[tier]
            if tier == "month":
                want_df = m.month.rollup_month(self.store.read("day", a, b), a, b)
            else:
                in_lo, in_hi = steps[tier].input_interval_us(a, b)
                want_df = m.rollup.rollup_step(
                    self.store.read("minute", in_lo, in_hi), steps[tier],
                    range_start_us=in_lo, range_end_us=in_hi,
                ).where(f"t_us BETWEEN {a} AND {b}")
            want = {(x.url, x.channel, x.t_us): x.value for x in want_df.collect()}
            got = {(x.url, x.channel, x.t_us): x.value for x in self.store.read(tier, a, b).collect()}
            errs += compare_rows(got, want, f"{tier} after sync")
            stored.update({(tier, *k): v for k, v in got.items()})
        return errs, stored

    def check(self, ctx, i, out) -> list[str]:
        errs, after = self.check_sync()
        errs += self.check_served(out["served"])
        if self.prior is not None:
            # slots whose value the sync changed, of the slots it recomputed
            changed = sum(1 for key, v in after.items()
                          if key not in self.prior or not agree_15(self.prior[key], v))
            sync = out["sync"]
            recomputed = sum(sync[t]["rows_written"] + sync[t].get("rows_retired", 0)
                             for t in ("hour", "day", "month") if t in sync)
            self.useful[i] = (changed, recomputed)
        self.prior = after
        return errs

    def defect_probe(self, ctx) -> dict:
        """tier='auto' over a window of 4 days or less resolves to the
        'second' tier, which build_tiers never writes, so the request
        returns no rows. Issued once per run, outside the timed mix."""
        if not hasattr(self, "defect"):
            a = self.lo + 2 * DAY_US
            r = dict(tier="auto", start=a, end=a + DAY_US - 1, kind="auto_short")
            errs = self.check_served([(r, self.request(ctx, r).collect())])
            self.defect = {"request": r, "ok": not errs, "detail": errs}
        return self.defect

    def summary(self, ctx) -> dict:
        lat = self.request_s
        p = tail_percentile(len(lat))
        return {
            "requests_per_op": len(self.requests),
            "requests": len(lat),
            "request_p50_ms": 1e3 * median(lat),
            "request_tail": {"percentile": p, "ms": 1e3 * percentile(lat, p) if p else None},
            "sync_s": self.sync_s,
            "useful": self.useful,
            "known_defect": self.defect_probe(ctx) if ctx.traced else None,
        }

    def instrument(self, ctx, tracer) -> None:
        m = mods()
        TierStore = m.store.TierStore

        def upsert_bytes(span, args, kwargs, call):
            store, tier = args[0], args[2] if len(args) > 2 else kwargs["tier"]
            before = data_files(store.path(tier))
            res = call()
            added = [s for p, s in data_files(store.path(tier)).items() if p not in before]
            span.attrs.update(tier=tier, bytes=sum(added))
            return res

        tracer.patch(TierStore, "upsert", "store.upsert", around=upsert_bytes)
        tracer.patch(m.pipeline, "sync_changed", "pipeline.sync_changed")
        tracer.patch(m.refresh, "refresh_changed", "refresh.refresh_changed")
        tracer.patch(m.refresh, "refresh_month", "refresh.refresh_month")
        tracer.patch(m.serve, "get_timeseries", "serve.get_timeseries")
        tracer.patch(TierStore, "read", "store.read")
        tracer.patch(TierStore, "read_packed", "store.read_packed")
        tracer.patch(m.segments, "unpack_segments", "gorilla.unpack_segments")
        tracer.patch(m.serve, "pad_to_spine", "spine.pad_to_spine")
        tracer.patch(m.serve, "_pad_month", "spine.pad_month")
        tracer.patch(m.serve, "to_imfjson", "imfjson.to_imfjson")

    def layer_metrics(self, ctx, tracer, log) -> dict:
        syncs = tracer.find("pipeline.sync_changed")
        n_ops = max(len(syncs), 1)
        n = max(n_ops * len(self.requests), 1)  # per request
        reads = (tracer.find("store.read", "serve.get_timeseries")
                 + tracer.find("store.read_packed", "serve.get_timeseries"))
        execs = {k: tracer.find(f"serve.{k}_exec") for k in ("long", "packed", "json")}
        all_exec = [s for v in execs.values() for s in v]
        files, scans = eventlog.files_read(log, [tracer.wall(s) for s in tracer.find("serve.request")])
        useful = list(self.useful.values())
        upserts = tracer.find("store.upsert")
        return {
            # untraced: the sync part of the paired untraced operations
            "sync.latency_s": median(self.sync_s),
            "store.upsert_s": sum(s.duration for s in upserts) / n_ops,
            "store.bytes_written_per_point_changed":
                sum(s.attrs.get("bytes", 0) for s in upserts)
                / sum(self.slice_points[s.op % N_SLICES] for s in syncs) if syncs else 0.0,
            "refresh.changed_s": tracer.total("refresh.refresh_changed") / n_ops,
            "refresh.month_s": tracer.total("refresh.refresh_month") / n_ops,
            # from every checked operation after the first (the change is
            # measured against the previous operation's check)
            "refresh.slots_recomputed": median(v[1] for v in useful),
            "refresh.useful_ratio":
                sum(v[0] for v in useful) / sum(v[1] for v in useful) if useful else 0.0,
            "store.read_plan_ms": span_ms(reads),
            "store.files_scanned_per_read": files / scans if scans else 0.0,
            "serve.read_ms": 1e3 * sum(s.duration for s in reads) / n,
            "serve.pad_plan_ms": 1e3 * (tracer.total("spine.pad_to_spine")
                                        + tracer.total("spine.pad_month")) / n,
            "serve.exec_ms": span_ms(execs["long"]),
            "serve.packed_exec_ms": span_ms(execs["packed"]),
            "serve.json_exec_ms": span_ms(execs["json"]),
            "serve.jobs_per_request": sum(s.attrs["jobs"] for s in all_exec) / n,
            "serve.rows_per_request": sum(s.attrs["rows"] for s in all_exec) / n,
            "serve.request_p50_ms": 1e3 * median(self.request_s),
            "serve.auto_short_window_failures": 0.0 if self.defect["ok"] else 1.0,
        }


WORKLOADS = {w.name: w for w in (BulkBuild, SyncServe)}
