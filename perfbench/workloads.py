"""The three benchmark workloads.

Each workload has the same shape:

- ``inputs(ctx)`` generates its seeded inputs (benchmark set-up);
- ``run_pass(ctx)`` runs one pass against the package's public entry
  points and returns one record per operation: its latency, its result
  or the counts it wrote, and (traced runs) its Spark-side counts;
- ``check(ctx, ops)`` compares every operation's output with what a
  correct program returns. It runs after the session has stopped, so
  building the expected results neither times nor competes with the
  program;
- ``layers(pass, spans)`` folds the pass of a traced run (its record
  and the run's spans) into the per-layer metrics it owns.

A pass is the workload's unit of work, one per run and process: one
nightly full load plus one incremental load, one seed-shuffled loop
over the dashboard queries (each query's first call in the session),
or one nightly batch process (the nightly loads, then a cold curation
iteration: caches cleared, batch segment, streaming segment).

The query workloads read the shipped TPC-H-ish testdata copied under
``perfbench/data/`` (the tables the package's correctness gate and
``bench.py`` read); the seed orders the queries. The ETL reads a
raw-sales CSV generated from the seed (``gen.py``).
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import statistics
import time
from dataclasses import dataclass, field

import gen
from spans import Tracer, cpu_mark, cpu_since, stream_summary

# Query lists by registered-id prefix (the registry names carry a suffix).
# The dashboard list keeps 12 of the reference's 20 dashboard queries:
# every plan shape (pivot, cube, window top-n, quantiles, joins, eager
# plan-time jobs) with the cheapest single-aggregate ones left out, so a
# run fits the benchmark's time budget (see README.md).
DASH_QUERIES = (
    "q01", "q02", "q04", "q06", "q11", "q12", "q14", "q43", "q46", "q64",
    "q144", "q146",
)
# Curation keeps a pair that shares a build (q23/q24: the MinHash
# signatures), the Python plan nodes (q42's IVF assignment), the graph
# iteration (q123) and the eager plan-time collects (q137's BPE rules).
CUR_BATCH = ("q23", "q24", "q42", "q123", "q137")
CUR_STREAM = ("q136",)
# Run once before a dashboard pass, to pay the session's first-use costs
# (first parquet scan, shuffle, codegen, Arrow collect); not measured.
DASH_WARM_UP = ("q05",)

DATABASE = "perfbench_dw"
RUN_TS_FULL = "2024-01-01 00:00:00"
RUN_TS_INCR = "2024-01-02 00:00:00"
EXTRACTED_AT = "2024-01-01 00:00:00"


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    work: str
    cache: str  # expected-results cache, kept across runs
    sf_dir: str
    etl_rows: int
    snap: gen.RetailSnapshot | None = None
    expect: dict = field(default_factory=dict)


def resolve(prefixes: tuple[str, ...]) -> list[str]:
    """Registered query names for the given ``qNN`` prefixes, in order."""
    import __spark_entry__ as entry

    names = list(entry.queries())
    out = []
    for p in prefixes:
        match = [n for n in names if n.split("_", 1)[0] == p]
        if len(match) != 1:
            raise LookupError(f"query {p}: expected one registered name, found {match}")
        out.append(match[0])
    return out


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


# ---------------------------------------------------------------------------
# Query workloads (dashboard_reads, curation_ingest)
# ---------------------------------------------------------------------------
def _tables_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for n in sorted(os.listdir(sf_dir)):
        h.update(n.encode())
        with open(os.path.join(sf_dir, n), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _oracle_results(ctx: Context, names: list[str]) -> None:
    """DuckDB twin results, through tools/check_oracle.py's connection.
    A query without a registered twin gets a rows-only check.

    A twin's result depends only on its SQL, the shipped tables and
    DuckDB, so it is cached in ``ctx.cache`` under a digest of the
    three (a few twins take seconds each; the seed only orders the
    queries)."""
    import duckdb
    import pandas as pd
    import __spark_entry__ as entry
    from check_oracle import duck_connection

    oracles = entry.oracle_sql()
    tables = _tables_digest(ctx.sf_dir)
    os.makedirs(ctx.cache, exist_ok=True)
    con = None
    try:
        for n in names:
            if n not in oracles:
                ctx.expect[n] = None
                continue
            key = hashlib.sha256(
                "\0".join((oracles[n], tables, duckdb.__version__, pd.__version__)).encode()
            ).hexdigest()[:24]
            path = os.path.join(ctx.cache, f"{n}-{key}.pkl")
            if os.path.exists(path):
                with open(path, "rb") as fh:
                    ctx.expect[n] = pickle.load(fh)
                continue
            if con is None:
                con = duck_connection(ctx.sf_dir)
                con.execute("SET enable_progress_bar = false")
            ctx.expect[n] = con.execute(oracles[n]).fetchdf()
            with open(path + ".tmp", "wb") as fh:
                pickle.dump(ctx.expect[n], fh)
            os.replace(path + ".tmp", path)
    finally:
        if con is not None:
            con.close()


def _check_queries(ctx: Context, names: list[str], ops: list[dict]) -> None:
    """Compare each query's collected result with its twin (row count
    plus an order-insensitive compare); drop the result afterwards."""
    from check_oracle import compare

    _oracle_results(ctx, names)
    for op in ops:
        if "result" not in op:
            continue
        pdf = op.pop("result")
        want = ctx.expect[op["name"]]
        if want is None:
            op["error"] = None if len(pdf) > 0 else "rows-only check: no rows"
        else:
            op["error"] = "; ".join(compare(pdf, want)) or None


def _run_query(ctx: Context, name: str, fn) -> dict:
    """One query: call the registered function (plan time, including
    any eager jobs it runs) and bring the result to the client as a
    pandas frame over Arrow (execution). Its Spark-side counts cover
    this call only: job groups are named after it, and plan nodes and
    micro-batches are read from the position ``mark`` took."""
    tr = ctx.tracer
    op = {"name": name}
    mark = tr.mark()
    called = time.time()
    c0 = cpu_mark()
    t0 = time.perf_counter()
    try:
        with tr.span(f"plan:{name}") as s_plan, tr.job_group(f"{name}:plan"):
            df = fn(ctx.spark, ctx.sf_dir)
        with tr.span(f"exec:{name}") as s_exec, tr.job_group(f"{name}:exec"):
            pdf = df.toPandas()
    except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
        op["latency_s"] = time.perf_counter() - t0
        op["cpu_s"], op["steal_share"] = cpu_since(c0)
        op["error"] = f"{type(exc).__name__}: {exc}"[:300]
        return op
    op["latency_s"] = time.perf_counter() - t0
    op["cpu_s"], op["steal_share"] = cpu_since(c0)
    op.update(plan_s=s_plan["dur"], exec_s=s_exec["dur"], rows=len(pdf), result=pdf)
    if tr.enabled:
        batches, starts, nodes = tr.since(mark)  # drains the listener bus first
        plan = tr.group_counts(f"{name}:plan")
        exe = tr.group_counts(f"{name}:exec")
        op.update(plan_jobs=plan["jobs"], jobs=plan["jobs"] + exe["jobs"],
                  tasks=plan["tasks"] + exe["tasks"], **nodes)
        if batches:
            op.update(batches=batches, stream_startup_s=min(starts) - called if starts else None)
    return op


def fixed_plan_probe(spark) -> float:
    """The per-plan floor: a one-row noop write."""
    t0 = time.perf_counter()
    spark.range(1).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _sum(ops: list[dict], key: str) -> float:
    return float(sum(op.get(key, 0) or 0 for op in ops))


class DashboardReads:
    name = "dashboard_reads"

    def inputs(self, ctx: Context) -> None:
        self.names = resolve(DASH_QUERIES)

    def warm_up(self, ctx: Context) -> None:
        """A dashboard server that has answered another query: the
        session's first-use costs are paid, each listed query's first
        plan is not."""
        import __spark_entry__ as entry

        fns = entry.queries()
        for n in resolve(DASH_WARM_UP):
            fns[n](ctx.spark, ctx.sf_dir).toPandas()

    def run_pass(self, ctx: Context) -> dict:
        import __spark_entry__ as entry

        fns = entry.queries()
        order = list(self.names)
        random.Random(ctx.seed).shuffle(order)
        ops = [_run_query(ctx, n, fns[n]) for n in order]
        return {"ops": ops, "wall_s": _sum(ops, "latency_s")}

    def check(self, ctx: Context, ops: list[dict]) -> None:
        _check_queries(ctx, self.names, ops)

    def layers(self, p: dict, spans: list[dict]) -> dict:
        ops = p["ops"]
        return {
            "dash.plan_s": _sum(ops, "plan_s"),
            "dash.exec_s": _sum(ops, "exec_s"),
            "dash.plan_jobs": _sum(ops, "plan_jobs"),
            "dash.jobs": _sum(ops, "jobs"),
            "dash.tasks": _sum(ops, "tasks"),
            "dash.exchanges": _sum(ops, "exchanges"),
            "dash.rows_returned": _sum(ops, "rows"),
        }

    def headline(self, p: dict) -> dict:
        lat = [op["latency_s"] for op in p["ops"]]
        pct, tail, beyond = tail_latency(lat)
        return {
            "dash_p50_s": (statistics.median(lat), "s"),
            "dash_tail_s": (tail, f"s (p{pct:g}, n={len(lat)}, {beyond} beyond)"),
            "dash_qps": (len(lat) / sum(lat), "1/s"),
        }


# ---------------------------------------------------------------------------
# ETL workload (etl_nightly)
# ---------------------------------------------------------------------------
class EtlNightly:
    name = "etl_nightly"

    def warm_up(self, ctx: Context) -> None:
        """None: a nightly job starts a fresh process every night."""

    def inputs(self, ctx: Context) -> None:
        ctx.snap = gen.retail_snapshot(os.path.join(ctx.work, "raw"), ctx.etl_rows, ctx.seed)

    def _db_dir(self, ctx: Context) -> str:
        return os.path.join(ctx.work, "warehouse", f"{DATABASE}.db")

    def _load(self, ctx: Context, csv_path: str, run_ts: str, incremental: bool) -> dict:
        from _multi_source_retail_data_integration_hub_spark.plans import pipeline
        from _multi_source_retail_data_integration_hub_spark.sources import retail

        snap, spark = ctx.snap, ctx.spark
        raw = retail.read_retail_sales_csv(spark, csv_path, extracted_at=EXTRACTED_AT)
        products = retail.products_from_records(spark, snap.products, extracted_at=EXTRACTED_AT)
        cats = retail.categories_from_list(spark, snap.categories)
        name = "etl_incr" if incremental else "etl_full"
        op = {"name": name}
        c0 = cpu_mark()
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(name):
                pipeline.run_pipeline(
                    spark, raw, products, cats, database=DATABASE, run_ts=run_ts,
                    incremental=incremental,
                )
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            op["latency_s"] = time.perf_counter() - t0
            op["cpu_s"], op["steal_share"] = cpu_since(c0)
            op["error"] = f"{type(exc).__name__}: {exc}"[:300]
            return op
        op["latency_s"] = time.perf_counter() - t0
        op["cpu_s"], op["steal_share"] = cpu_since(c0)
        op["got"] = self._counts(ctx, incremental)
        return op

    def _counts(self, ctx: Context, incremental: bool) -> dict[str, int]:
        """What the load wrote, counted from the stored tables (one job)
        and the fact table's partition directories."""
        row = ctx.spark.sql(f"""
            SELECT (SELECT count(*) FROM {DATABASE}.stg_retail_sales) AS stg_retail_sales,
                   count(DISTINCT IF(is_current, customer_id, NULL)) AS dim_customer,
                   count_if(version > 1) AS new_versions,
                   count(*) AS dim_customer_rows
            FROM {DATABASE}.dim_customer""").first().asDict()
        row["fact_partitions"] = len([
            d for d in os.listdir(os.path.join(self._db_dir(ctx), "fact_sales"))
            if d.startswith("date_key=")
        ])
        if not incremental:
            del row["new_versions"], row["dim_customer_rows"]
        return row

    def run_pass(self, ctx: Context) -> dict:
        # the run's work directory is new, so the database is empty and
        # the full load pays the metastore's first use, as a nightly job does
        snap = ctx.snap
        full = self._load(ctx, snap.csv_path, RUN_TS_FULL, incremental=False)
        incr = self._load(ctx, snap.churn_csv_path, RUN_TS_INCR, incremental=True)
        files, size = _dir_size(self._db_dir(ctx))
        return {
            "ops": [full, incr],
            "files": files,
            "bytes": size,
            "new_versions": incr.get("got", {}).get("new_versions", 0),
            "wall_s": full["latency_s"] + incr["latency_s"],
        }

    def check(self, ctx: Context, ops: list[dict]) -> None:
        """Against the generator's counts: valid staged rows, distinct
        customers, one fact partition per valid day, one new SCD2
        version per churned customer."""
        snap = ctx.snap
        want = {
            "stg_retail_sales": snap.valid_rows,
            "dim_customer": snap.customers,
            "fact_partitions": snap.valid_days,
            "new_versions": snap.churned,
            "dim_customer_rows": snap.customers + snap.churned,
        }
        for op in ops:
            if "got" in op:
                bad = [f"{k}: got {v}, want {want[k]}" for k, v in op["got"].items() if v != want[k]]
                op["error"] = "; ".join(bad) or None

    def traced_calls(self, tracer: Tracer) -> list:
        """Wrap the pipeline's stage functions in spans for a traced run;
        returns the undo callables."""
        from _multi_source_retail_data_integration_hub_spark.plans import pipeline
        from _multi_source_retail_data_integration_hub_spark.sources import sinks

        return [
            tracer.wrap(pipeline, "validate_extract", "sources.csv_read"),
            tracer.wrap(pipeline, "validate_transform", "pipeline.transform_gate"),
            tracer.wrap(pipeline, "validate_load", "pipeline.load_gate"),
            tracer.wrap(pipeline, "_scd2_merged_dim", "scd2.merge"),
            tracer.wrap(sinks, "append_run_log", "pipeline.run_log"),
            tracer.wrap(sinks, "write_warehouse_table", lambda df, name, **kw: f"sources.write:{name}"),
        ]

    def layers(self, p: dict, spans: list[dict]) -> dict:
        def total(prefix: str) -> float:
            return sum(s["dur"] for s in spans if s["name"].startswith(prefix))

        return {
            "sources.csv_read_s": total("sources.csv_read"),
            "sources.write_s": total("sources.write:"),
            "sources.fact_write_s": total("sources.write:fact_sales"),
            "sources.files_written": p["files"],
            "sources.bytes_written": p["bytes"],
            "pipeline.transform_gate_s": total("pipeline.transform_gate"),
            "pipeline.load_gate_s": total("pipeline.load_gate"),
            "pipeline.run_log_s": total("pipeline.run_log"),
            "scd2.merge_s": total("scd2.merge"),
            "scd2.new_versions": p["new_versions"],
        }

    def headline(self, p: dict) -> dict:
        return {
            "etl_full_s": (p["ops"][0]["latency_s"], "s"),
            "etl_incr_s": (p["ops"][1]["latency_s"], "s"),
            "warehouse_mb": (p["bytes"] / 2**20, "MB"),
        }


# ---------------------------------------------------------------------------
# Nightly batch process (curation_ingest)
# ---------------------------------------------------------------------------
class CurationIngest:
    """One fresh batch process: the nightly loads (``EtlNightly``'s pass),
    then a cold curation iteration: ``clear_session_caches()``, the
    batch segment, the streaming segment. The curation runs cold because
    a batch curation job pays its builds on every run."""

    name = "curation_ingest"
    etl = EtlNightly()

    def warm_up(self, ctx: Context) -> None:
        """None: a batch process starts fresh every run."""

    def inputs(self, ctx: Context) -> None:
        self.etl.inputs(ctx)
        self.batch = resolve(CUR_BATCH)
        self.stream = resolve(CUR_STREAM)

    def run_pass(self, ctx: Context) -> dict:
        import __spark_entry__ as entry
        from _multi_source_retail_data_integration_hub_spark.plans import training_data

        etl = self.etl.run_pass(ctx)
        fns = entry.queries()
        # cold: every shared build and persisted table is rebuilt
        with ctx.tracer.span("cur.clear_session_caches") as s_clear:
            training_data.clear_session_caches()
        batch = [_run_query(ctx, n, fns[n]) for n in self.batch]
        stream = [_run_query(ctx, n, fns[n]) for n in self.stream]
        curation = s_clear["dur"] + _sum(batch, "latency_s")
        ingest = _sum(stream, "latency_s")
        return {
            "ops": etl["ops"] + batch + stream,
            "etl": etl,
            "batch": batch,
            "stream": stream,
            "shared_builds": training_data.clear_session_caches(),
            "curation_s": curation,
            "ingest_s": ingest,
            "wall_s": etl["wall_s"] + curation + ingest,
        }

    def check(self, ctx: Context, ops: list[dict]) -> None:
        self.etl.check(ctx, ops)
        _check_queries(ctx, self.batch + self.stream, ops)

    def traced_calls(self, tracer: Tracer) -> list:
        return self.etl.traced_calls(tracer)

    def layers(self, p: dict, spans: list[dict]) -> dict:
        batch, stream = p["batch"], p["stream"]
        batches = [b for op in stream for b in op.get("batches", [])]
        startups = [op["stream_startup_s"] for op in stream if op.get("stream_startup_s") is not None]
        out = self.etl.layers(p["etl"], spans)
        out.update({
            "cur.plan_s": _sum(batch, "plan_s"),
            "cur.exec_s": _sum(batch, "exec_s"),
            "cur.shared_builds": p["shared_builds"],
            "cur.plan_jobs": _sum(batch, "plan_jobs"),
            "cur.jobs": _sum(batch, "jobs"),
            "cur.tasks": _sum(batch, "tasks"),
            "cur.python_nodes": _sum(batch, "python_nodes"),
            "cur.exchanges": _sum(batch, "exchanges"),
            "cur.reused_exchanges": _sum(batch, "reused_exchanges"),
            "stream.startup_s": sum(startups),
        })
        out.update({f"stream.{k}": v for k, v in stream_summary(batches).items()})
        return out

    def headline(self, p: dict) -> dict:
        out = self.etl.headline(p["etl"])
        out.update({
            "curation_s": (p["curation_s"], "s"),
            "ingest_s": (p["ingest_s"], "s"),
        })
        return out


def tail_latency(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    returns (percentile, value, samples beyond). Fewer than eleven
    samples leave no such percentile; the median is returned then."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return 50.0, statistics.median(xs), n // 2
    k = n - 10  # xs[k-1] has exactly ten samples above it
    return 100.0 * k / n, xs[k - 1], 10


WORKLOADS = {w.name: w for w in (EtlNightly(), DashboardReads(), CurationIngest())}
