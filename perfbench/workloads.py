"""The benchmark's workloads. Each takes a ``run.Run`` and returns
``(detail, result)``: the detail record and the result line.

- ``headline_queries``: rounds over the eight ``bench=True`` catalog queries
  on the repository's fixed TPC-H-shaped tables; read-only, weighted toward
  ``plans`` (DataFrame construction) and the ``operators``/``functions``
  kernels.
- ``split_rebuild``: on a seeded lake, each operation announces one
  historical split; ``run_bronze`` ingests it (untimed), and its fingerprint
  forces the timed full ``run_silver`` rewrite and full ``run_gold``
  rebuild — many Spark jobs and a rewrite of every silver and gold file.

Both report the same metric names: ``op_s`` is the time of the workload's
operation (a query round, summed from per-query medians, or the median of
silver + gold after a split), and
the per-layer names are shared, a count of work the workload does not do
reading 0.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import sys
import time
import traceback

from perfbench import trace
from perfbench.inputs import Market

# The headline tables: a copy of the repository's fixed, read-only test
# tables at TPC-H scale factor 0.01 (~60k lineitems), the ones the eight
# headline queries scan. The seed only shuffles the query order.
TPCH_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tpch_sf0.01")
MIN_ROUNDS = 3

# The lake: tickers x a fixed calendar of trading days; a run times at
# most MAX_SPLITS operations.
N_TICKERS = 100
HISTORY = (dt.date(2025, 1, 2), dt.date(2025, 6, 6))
MAX_SPLITS = 4

PIPELINE_CMDS = ("silver", "gold")
_SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "executor_cpu_s": "s",
    "job_active_s": "s", "between_jobs_s": "s", "shuffle_bytes": "B",
    "spill_bytes": "B", "cpu_util": "ratio",
}


class Outcome:
    """Attempted/failed operation counts and the first failure messages."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.fail(what)
        return ok

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        if len(self.messages) < 20:
            self.messages.append(what[:500])

    def guard(self, what: str, fn, *args, **kwargs):
        """Run one operation; an exception is a failed operation."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - every failure is counted and reported
            self.fail(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def result(self, metrics: dict) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": metrics,
        }


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _sample(xs: list[float]) -> dict:
    return {"median": _median(xs), "n": len(xs), "values": xs}


def _host(run) -> dict:
    from tools.bench_e2e import host_conditions

    return host_conditions(run.work, probe_mb=32)


def _boot(run) -> tuple[object, float]:
    t0 = time.perf_counter()
    spark = run.start_spark()
    return spark, time.perf_counter() - t0


def _bench_queries() -> list[str]:
    from tickerlake_spark.plans import QUERIES
    from tickerlake_spark.plans.catalog import _ensure_loaded

    _ensure_loaded()
    return sorted(n for n, s in QUERIES.items() if s.bench)


def _short(query: str) -> str:
    return query.split("_")[0]


def _end_to_end(op_s: float, setup_s: float) -> dict:
    return {
        "op_s": {"value": op_s, "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def _sum_calls(stats: list[dict], cores: int) -> dict:
    """One operation's Spark work: the sum over its calls."""
    op = {k: sum(s[k] for s in stats) for k in stats[0] if k != "cpu_util"}
    op["cpu_util"] = op["executor_cpu_s"] / max(op["wall_s"] * cores, 1e-9)
    return op


def _per_layer(
    boot_s: float,
    rss_mb: float,
    op_s: float,
    per_op: list[dict],
    build_stats: dict[str, list[dict]] | None = None,
    cmd_stats: dict[str, list[dict]] | None = None,
    lake_files: int = 0,
) -> dict:
    """The per-layer metrics of BENCHMARK.json, medians over operations."""
    build_stats = build_stats or {}
    cmd_stats = cmd_stats or {}
    m = {
        "session.boot_s": (boot_s, "s"),
        "session.jvm_peak_rss_mb": (rss_mb, "MB"),
        **{
            f"spark.{k}": (_median([op[k] for op in per_op]), unit)
            for k, unit in _SPARK_UNITS.items()
        },
        "storage.lake_files": (lake_files, "count"),
        "trace.op_s": (op_s, "s"),
    }
    for q in map(_short, _bench_queries()):
        m[f"plans.{q}.build_jobs"] = (_median([s["jobs"] for s in build_stats.get(q, [])]), "count")
    for cmd in PIPELINE_CMDS:
        stats = cmd_stats.get(cmd, [])
        for layer, key, unit in (
            ("pipeline", "jobs", "count"),
            ("pipeline", "tasks", "count"),
            ("storage", "files_written", "count"),
            ("storage", "bytes_written", "B"),
        ):
            m[f"{layer}.{cmd}.{key}"] = (_median([s[key] for s in stats]), unit)
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _jobs_reconcile(out: Outcome, stats: list[dict]) -> bool:
    ok = all(s["jobs"] == s["jobs_by_start_time"] for s in stats)
    out.check(ok, "trace: job counts by id range and by start time differ")
    return ok


# ---------------------------------------------------------------------------
# headline_queries
# ---------------------------------------------------------------------------


def oracle_connection(data: str):
    """A DuckDB connection with a view over each table under ``data``."""
    import duckdb

    duck = duckdb.connect()
    for f in sorted(os.listdir(data)):
        table = f.removesuffix(".parquet")
        duck.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{os.path.join(data, f)}')"
        )
    return duck


def matches_oracle(duck, spec, got) -> bool:
    """``got`` (a catalog query's result) equals its DuckDB oracle's under
    the tier-1 gate's strict value hash: same columns, dtype kinds and exact
    values, and at least one row."""
    from test_driver_hash import _dtype_mismatches, _value_hash

    want = duck.execute(spec.oracle).fetchdf()
    return (
        sorted(got.columns) == sorted(want.columns)
        and not _dtype_mismatches(got, want)
        and len(got) > 0
        and _value_hash(got) == _value_hash(want)
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def headline_queries(run) -> tuple[dict, dict]:
    from tickerlake_spark.plans import QUERIES

    names = _bench_queries()
    out = Outcome()
    data = TPCH_DIR
    host_before = _host(run)
    spark, boot_s = _boot(run)

    # set-up: one untimed warm pass that collects every result, for the
    # oracle check after timing
    t = time.perf_counter()
    results = {}
    for name in names:
        got = out.guard(f"warm {name}", lambda n=name: QUERIES[n].fn(spark, data).toPandas())
        if got is not None:
            results[name] = got
    phases = {"warm_s": time.perf_counter() - t}
    setup_s = time.perf_counter() - run.t_start

    # timed rounds: each query built, then executed to the noop sink, in a
    # seeded order, with the SQL cache cleared before each; at least
    # MIN_ROUNDS rounds, so each query's median drops the first noop round,
    # which runs slow while the JIT still warms up, or a round that a stall
    # of the shared host slowed.
    tracer = trace.Tracer(spark, run.trace)
    order_rng = random.Random(run.seed)
    rounds: list[list[tuple[str, trace.Call, trace.Call]]] = []
    t_end = time.perf_counter() + run.seconds
    while True:
        order = names[:]
        order_rng.shuffle(order)
        this = []
        for name in order:
            spark.catalog.clearCache()
            with tracer.call(name) as b:
                df = out.guard(f"build {name}", QUERIES[name].fn, spark, data)
            if df is None:
                continue
            with tracer.call(name) as e:
                out.guard(f"execute {name}", _noop, df)
            this.append((name, b, e))
        rounds.append(this)
        if len(rounds) >= MIN_ROUNDS and time.perf_counter() >= t_end:
            break
    round_s = [sum(b.wall_s + e.wall_s for _, b, e in r) for r in rounds]
    # op_s: each query's median over the rounds, summed; a stall of the
    # shared host in one round moves one sample of one query only
    calls = [c for r in rounds for c in r]
    query_s = {n: [b.wall_s + e.wall_s for q, b, e in calls if q == n] for n in names}
    op_s = sum(_median(v) for v in query_s.values())
    host_after = _host(run)
    rss_mb = trace.jvm_peak_rss_mb(spark)
    run.stop_spark()

    # untimed, with Spark stopped: each warm-pass result against its oracle
    t = time.perf_counter()
    duck = oracle_connection(data)
    for name, got in results.items():
        ok = out.guard(f"check {name}", matches_oracle, duck, QUERIES[name], got)
        if ok is False:
            out.fail(f"check {name}: result differs from its DuckDB oracle")
    duck.close()
    phases["check_s"] = time.perf_counter() - t

    detail = {
        "workload": run.workload, "seed": run.seed, "trace": run.trace,
        "cores": run.cores, "data": os.path.basename(data), "phases": phases,
        "setup_s": setup_s, "session.boot_s": boot_s,
        "query_round_s": _sample(round_s), "op_s": op_s,
        "queries": {
            _short(n): {
                "build_s": _median([b.wall_s for q, b, _ in calls if q == n]),
                "exec_s": _median([e.wall_s for q, _, e in calls if q == n]),
            }
            for n in names
        },
        "host": {"before": host_before, "after": host_after},
    }
    metrics = _end_to_end(op_s, setup_s)
    if run.trace:
        log = trace.parse_event_log(trace.find_event_log(run.event_log_dir))
        per_op, builds, execs = [], {}, {}
        for r in rounds:
            stats = []
            for name, b, e in r:
                sb, se = trace.attribute(b, log, run.cores), trace.attribute(e, log, run.cores)
                builds.setdefault(_short(name), []).append(sb)
                execs.setdefault(_short(name), []).append(se)
                stats += [sb, se]
            if stats:
                per_op.append(_sum_calls(stats, run.cores))
        detail["layers"] = {
            **{
                f"plans.{q}.{key}": _median([s[src] for s in sts])
                for q, sts in builds.items()
                for key, src in (("build_s", "wall_s"), ("build_jobs", "jobs"))
            },
            **{
                f"operators.{q}.{key}": _median([s[src] for s in sts])
                for q, sts in execs.items()
                for key, src in (
                    ("exec_s", "wall_s"), ("exec_jobs", "jobs"),
                    ("executor_cpu_s", "executor_cpu_s"), ("shuffle_bytes", "shuffle_bytes"),
                )
            },
        }
        all_stats = [s for sts in (*builds.values(), *execs.values()) for s in sts]
        detail["jobs_reconcile"] = _jobs_reconcile(out, all_stats)
        metrics = _per_layer(boot_s, rss_mb, op_s, per_op, build_stats=builds)
    detail["failures"] = out.messages
    detail["fail_ratio"] = out.failed / max(out.attempted, 1)
    return detail, out.result(metrics)


# ---------------------------------------------------------------------------
# split_rebuild
# ---------------------------------------------------------------------------


def _dir_bytes(path: str) -> int:
    return sum(size for size, _ in trace.list_files(path).values())


class Lake:
    """A seeded lake in the run's work directory, built, changed and checked
    only through the program's public calls."""

    def __init__(self, run, spark, out: Outcome) -> None:
        from tickerlake_spark.sources.calendar import trading_days
        from tickerlake_spark.storage import Catalog, Checkpoints

        self.spark = spark
        self.out = out
        self.root = os.path.join(run.work, "lake")
        self.catalog = Catalog(root=self.root)
        self.checkpoints = Checkpoints(path=os.path.join(self.root, "checkpoints.json"))
        self.days = trading_days(*HISTORY)
        self.split_days = self.days[:-30]
        self.market = Market(run.seed, N_TICKERS, self.split_days)
        self.phases: dict[str, float] = {}

    def _phase(self, name: str, fn, *args, **kwargs):
        t = time.perf_counter()
        result = fn(*args, **kwargs)
        self.phases[name] = time.perf_counter() - t
        return result

    def _write_bronze(self) -> None:
        """History bars, tickers and splits, as ``run_bronze`` writes them."""
        from tickerlake_spark import schemas
        from tickerlake_spark.storage import write_table

        spark, catalog, market = self.spark, self.catalog, self.market
        bars = spark.createDataFrame(market.history(self.days))
        write_table(
            schemas.conform(bars, schemas.STOCKS).repartition(8, "date"),
            catalog.bronze("stocks"), partition_by="date",
        )
        for table, rows, schema in (
            ("tickers", market.ticker_rows, schemas.TICKERS),
            ("splits", market.split_rows, schemas.SPLITS),
        ):
            write_table(schemas.conform(spark.createDataFrame(rows), schema), catalog.bronze(table))

    def build(self) -> bool:
        """Bronze history, a full silver build, a full gold build."""
        self._phase("bronze_history_s", self._write_bronze)
        modes = [self._phase("silver_full_s", self.silver)["mode"],
                 self._phase("gold_full_s", self.gold)["mode"]]
        self.out.check(modes == ["full", "full"], f"set-up modes {modes}, want full, full")
        return True

    def bronze(self) -> dict:
        """``run_bronze`` with the market's reference data and no new bars."""
        from tickerlake_spark.pipeline import run_bronze

        day = self.days[-1]
        return run_bronze(self.spark, self.market.reference_source(), self.catalog,
                          self.checkpoints, day, day)

    def silver(self) -> dict:
        from tickerlake_spark.pipeline import run_silver

        return run_silver(self.spark, self.catalog, self.checkpoints)

    def gold(self) -> dict:
        from tickerlake_spark.pipeline import run_gold

        return run_gold(self.spark, self.catalog, checkpoints=self.checkpoints, with_counts=False)

    def check(self) -> None:
        """Row counts of bronze, silver and gold, then ``run_validate``:
        the split cross-check, the incremental-indicator drift guard and
        the per-date counts."""
        from tickerlake_spark.pipeline import run_validate
        from tickerlake_spark.storage import read_table

        out, catalog = self.out, self.catalog
        t = time.perf_counter()
        n_days = len(self.days)
        universe = self.market.universe * n_days
        for table, path, want in (
            ("bronze.stocks", catalog.bronze("stocks"), N_TICKERS * n_days),
            ("silver.daily_aggregates", catalog.silver("daily_aggregates"), universe),
            ("gold.vwap_signals", catalog.gold("vwap_signals"), universe),
        ):
            got = out.guard(f"count {table}", lambda p=path: read_table(self.spark, p).count())
            if got is not None:
                out.check(got == want, f"{table}: {got} rows, want {want}")
        report = out.guard("run_validate", run_validate, self.spark, catalog,
                           min_records=N_TICKERS // 2)
        if report is not None:
            for part in ("split_adjustment", "indicator_drift"):
                out.check(report[part]["ok"] and report[part]["checked"] > 0,
                          f"validate {part}: {report[part]}")
            out.check(report["date_counts"]["anomalous_dates"] == 0,
                      f"validate date_counts: {report['date_counts']}")
        self.phases["checks_s"] = time.perf_counter() - t

    def split(self, tracer, k: int) -> list[tuple[trace.Call, dict]] | None:
        """One operation: a newly announced split of a seeded ticker reaches
        bronze through ``run_bronze``'s splits path (untimed); the split
        fingerprint forces a full silver rewrite and a full gold rebuild,
        each a timed, traced call. Their ``(call, summary)`` pairs, or None
        (a counted failure) once a call raises."""
        self.market.add_split(self.split_days)
        b = self.out.guard(f"run_bronze split {k}", self.bronze)
        if b is None:
            return None
        self.out.check(b["rows"] == 0, f"bronze split {k}: {b['rows']} new bars")
        calls = []
        for cmd, fn in (("silver", self.silver), ("gold", self.gold)):
            with tracer.call(cmd, self.root) as call:
                summary = self.out.guard(f"run_{cmd} split {k}", fn)
            if summary is None:
                return None
            self.out.check(summary["mode"] == "full", f"{cmd} split {k}: mode {summary['mode']}")
            calls.append((call, summary))
        return calls


def split_rebuild(run) -> tuple[dict, dict]:
    """Set up a seeded lake, time up to MAX_SPLITS split rebuilds in a
    closed loop, check the lake, and assemble the result."""
    out = Outcome()
    host_before = _host(run)
    spark, boot_s = _boot(run)
    lake = Lake(run, spark, out)
    built = out.guard("set-up", lake.build)
    setup_s = time.perf_counter() - run.t_start

    tracer = trace.Tracer(spark, run.trace)
    samples: dict[str, list[float]] = {f"{cmd}_s": [] for cmd in PIPELINE_CMDS}
    samples["close_to_signal_s"] = []
    stage_s: dict[str, list[float]] = {}
    ops: list[list[trace.Call]] = []
    t_end = time.perf_counter() + run.seconds
    for k in range(MAX_SPLITS if built else 0):
        calls = lake.split(tracer, k)
        if calls is None:
            break
        for call, summary in calls:
            samples[f"{call.name}_s"].append(call.wall_s)
            # stage spans of concurrent chains overlap: each is kept on its
            # own, never summed into a wall time
            for stage, secs in summary.get("timings", {}).items():
                name = trace.metric_name("pipeline", call.name, f"{stage}_s")
                stage_s.setdefault(name, []).append(secs)
        samples["close_to_signal_s"].append(sum(c.wall_s for c, _ in calls))
        ops.append([c for c, _ in calls])
        if time.perf_counter() >= t_end:
            break

    if built:
        lake.check()
    host_after = _host(run)
    rss_mb = trace.jvm_peak_rss_mb(spark)
    run.stop_spark()

    lake_files = len(trace.list_files(lake.root))
    derived = _dir_bytes(os.path.join(lake.root, "silver")) + _dir_bytes(
        os.path.join(lake.root, "gold")
    )
    detail = {
        "workload": run.workload, "seed": run.seed, "trace": run.trace,
        "cores": run.cores, "tickers": N_TICKERS, "days": len(lake.days),
        "phases": lake.phases, "setup_s": setup_s, "session.boot_s": boot_s,
        **{k: _sample(v) for k, v in samples.items() if v},
        "stages": {k: _median(v) for k, v in sorted(stage_s.items())},
        "lake_bytes_per_bar": derived / (N_TICKERS * len(lake.days)),
        "storage.lake_files": lake_files,
        "host": {"before": host_before, "after": host_after},
    }
    op_s = _median(samples["close_to_signal_s"])
    metrics = _end_to_end(op_s, setup_s)
    if run.trace:
        log = trace.parse_event_log(trace.find_event_log(run.event_log_dir))
        per_op, per_cmd = [], {}
        for calls in ops:
            stats = [trace.attribute(c, log, run.cores) for c in calls]
            per_op.append(_sum_calls(stats, run.cores))
            for c, st in zip(calls, stats):
                per_cmd.setdefault(c.name, []).append(st)
        detail["layers"] = {
            f"{layer}.{cmd}.{key}": _median([s[key] for s in sts])
            for cmd, sts in per_cmd.items()
            for layer, keys in (
                ("pipeline", ("jobs", "tasks", "executor_cpu_s", "shuffle_bytes",
                              "spill_bytes", "cpu_util", "job_active_s", "between_jobs_s")),
                ("storage", ("files_written", "bytes_written")),
            )
            for key in keys
        }
        detail["jobs_reconcile"] = _jobs_reconcile(
            out, [s for sts in per_cmd.values() for s in sts]
        )
        metrics = _per_layer(
            boot_s, rss_mb, op_s, per_op,
            cmd_stats=per_cmd, lake_files=lake_files,
        )
    detail["failures"] = out.messages
    detail["fail_ratio"] = out.failed / max(out.attempted, 1)
    return detail, out.result(metrics)
