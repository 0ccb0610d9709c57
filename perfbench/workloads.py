"""The benchmark's workloads, driven through the package's public API.

Load shape for all three: the benchmark is the only client, in a closed
loop (each operation starts when the previous one returns), in one
process whose Spark session runs at most ``nproc`` task threads.

- ``ingest_fresh``: one ``availableNow`` drain of a pre-written backlog
  (``maxFilesPerTrigger=1``: one file, one micro-batch) into an empty
  ``file://`` warehouse. Operation: one micro-batch.
- ``warehouse_aged``: a ``file://`` warehouse aged to two months of
  day-partitions per route, then cron-style cycles. Operation: one
  cycle = a small micro-batch over today and yesterday, a dashboard read
  of the transfers table, and compaction of the day that just closed.
- ``query_mix``: repeated passes over a fixed ordered list of catalog
  queries, each consumed by the noop sink. Operation: one query.

Each workload returns a ``Result``; ``run.py`` prints it.
"""

from __future__ import annotations

import dataclasses
import importlib
import os
import sys
import time
from statistics import median

import gate
import gen
from measure import geomean, tail
from tracing import LAYER_NAMES

PKG = "development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark"

# Query mix: the billing flagship, JVM relational shapes (5-way join,
# window rank), the driver-looped k-means fit, and the Arrow /
# Python-worker boundary (Unicode normalisation UDF, vector near-dup).
MIX = (
    "q_billing_flagship_daily",
    "q_rel_q5_nation_volume",
    "q_rel_top3_parts_per_brand",
    "q_llm_kmeans",
    "q_llm_unicode_normalize",
    "q_llm_embedding_near_dup",
)

ROUTES = gen.ROUTES
TODAY = 400  # day index of "today" at the start of a run (gen.EPOCH + 400)


@dataclasses.dataclass(frozen=True)
class Size:
    """Input sizes. ``FULL`` is what the benchmark runs; ``TINY`` only
    checks that every code path and metric works."""

    fresh_records: int  # records per backlog file (= per micro-batch)
    fresh_warm_batches: int  # leading micro-batches of the drain that warm up
    age_days: int
    age_records: int  # one aging file; small enough to be one input split
    cycle_records: int
    star_sf: float
    min_ops: int  # least measured micro-batches, cycles or passes per run


FULL = Size(10_000, 2, 60, 6_000, 3_000, 0.01, 3)
TINY = Size(300, 1, 15, 400, 100, 0.001, 2)


@dataclasses.dataclass
class Ctx:
    spark: object
    root: str  # this run's scratch directory
    seed: int
    seconds: float
    size: Size
    tracer: object | None  # tracing.Tracer in the traced run
    status: object | None  # tracing.SparkStatus in the traced run


@dataclasses.dataclass
class Result:
    setup_s: float = 0.0
    e2e: dict = dataclasses.field(default_factory=dict)  # name -> value
    detail: dict = dataclasses.field(default_factory=dict)
    layers: dict = dataclasses.field(default_factory=dict)  # per-layer, traced run
    errors: list = dataclasses.field(default_factory=list)
    attempted: int = 0
    failed: int = 0


def _mod(name: str):
    return importlib.import_module(f"{PKG}.{name}")


class Ops:
    """Runs and records operations. In the traced run every other
    operation is traced (spans + Spark counters under its own job
    group) and the rest run untraced, so one process yields both the
    per-layer numbers and the tracing overhead."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.records: list[dict] = []

    def run(self, kind: str, fn, reraise: bool = False, traced: bool | None = None, **info):
        """Time ``fn()`` as one operation; returns its value, or None when
        it raised (then the operation counts as failed). ``traced``
        overrides the every-other-operation choice."""
        ctx, tracer = self.ctx, self.ctx.tracer
        op_id = f"{kind}-{len(self.records)}"
        if traced is None:
            traced = len(self.records) % 2 == 0
        traced = traced and tracer is not None
        rec = {"kind": kind, "id": op_id, "traced": traced, "ok": False, **info}
        if traced:
            tracer.start_op(op_id)
            prev_group = ctx.status.set_group(op_id)
        w0, t0 = time.time(), time.perf_counter()
        try:
            out = span(ctx, f"op.{kind}", fn)
            rec["ok"] = True
            return out
        except Exception as e:  # an operation that fails is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            if reraise:
                raise
            return None
        finally:
            rec["s"] = time.perf_counter() - t0
            self.records.append(rec)
            if traced:
                tracer.stop_op()
                b0 = time.perf_counter()
                rec["spark"] = ctx.status.collect(op_id, w0, w0 + rec["s"])
                ctx.status.restore_group(prev_group)
                rec["bookkeeping_s"] = time.perf_counter() - b0

    def of(self, kind: str) -> list[dict]:
        """The operations of ``kind`` that succeeded."""
        return [r for r in self.records if r["kind"] == kind and r["ok"]]

    def count(self) -> tuple[int, int]:
        return len(self.records), sum(1 for r in self.records if not r["ok"])


def span(ctx: Ctx, name: str, fn):
    """Run ``fn`` inside a benchmark-side span (a no-op when untraced)."""
    tracer = ctx.tracer
    idx = tracer.begin(name) if tracer is not None else None
    try:
        return fn()
    finally:
        if idx is not None:
            tracer.end(idx)


# ---------------------------------------------------------------------------
# helpers shared by the ingest workloads
# ---------------------------------------------------------------------------


def _stream(ctx: Ctx, path: str):
    return _mod("sources.stream").billing_stream_source(
        ctx.spark, "file", path=path, max_files_per_trigger=1
    )


def _pipeline(ctx: Ctx, in_dir: str, warehouse: str):
    return _mod("streaming.pipeline").BillingPipeline(_stream(ctx, in_dir), warehouse)


def _data_files(table_dir: str) -> dict[str, int]:
    """{relative path: bytes} of a table's data files (hidden and
    underscore names excluded, as Spark's reader excludes them)."""
    out = {}
    for base, dirs, files in os.walk(table_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(base, f)
                out[os.path.relpath(p, table_dir)] = os.path.getsize(p)
    return out


def _warehouse_files(wh: str) -> dict[str, int]:
    out = {}
    for r in ROUTES:
        out.update({f"{r}/{k}": v for k, v in _data_files(os.path.join(wh, r)).items()})
    return out


def _timed_batches(
    ctx: Ctx, pipe, wh: str, ops: Ops | None = None, warm: int = 0, warm_end: list | None = None
) -> list[dict]:
    """Wrap the pipeline's foreachBatch callback to time each micro-batch
    from entry to ledger commit; returns the log it appends to. With
    ``ops`` each batch is an operation of its own; otherwise batches run
    inside the caller's operation. The first ``warm`` batches run
    unrecorded and the time the last of them ends goes to ``warm_end``.
    In a traced operation the batch's jobs join its job group and the
    files it adds are counted."""
    log: list[dict] = []
    process = pipe.process_batch
    warm_left = [warm]

    def timed(batch_df, batch_id):
        tracer = ctx.tracer
        traced = tracer is not None and tracer.enabled
        before = _warehouse_files(wh) if traced else None
        prev = ctx.status.set_group(tracer.op_id) if traced and ops is None else None
        t0 = time.perf_counter()
        try:
            span(ctx, "pipeline.batch", lambda: process(batch_df, batch_id))
        finally:
            entry = {"batch_id": batch_id, "s": time.perf_counter() - t0,
                     "op": tracer.op_id if traced else None}
            if traced and ops is None:
                ctx.status.restore_group(prev)
        if before is not None:
            added = {k: v for k, v in _warehouse_files(wh).items() if k not in before}
            entry.update(files_written=len(added), bytes_written=sum(added.values()))
        log.append(entry)

    def callback(batch_df, batch_id):
        if warm_left[0] > 0:
            process(batch_df, batch_id)
            warm_left[0] -= 1
            if warm_left[0] == 0:
                warm_end.append(time.perf_counter())
        elif ops is None:
            timed(batch_df, batch_id)
        else:
            ops.run("batch", lambda: timed(batch_df, batch_id), reraise=True, batch_id=batch_id)

    pipe.process_batch = callback
    return log


def _ingest_gate(pipe, wh: str, expected: dict[str, int]) -> list[str]:
    """Committed rows from the pipeline's per-batch metrics, and the rows
    each route table holds read back from its Parquet footers."""
    import pyarrow.parquet as pq

    committed = gate.committed_counts(pipe.metrics())
    read_back = {}
    for r in ROUTES:
        table = os.path.join(wh, r)
        read_back[r] = sum(
            pq.ParquetFile(os.path.join(table, rel)).metadata.num_rows for rel in _data_files(table)
        )
    return gate.check_route_counts(expected, committed, read_back)


def _add(total: dict, more: dict) -> None:
    for k, v in more.items():
        total[k] = total.get(k, 0) + v


def _files_per_partition(wh: str) -> float:
    per_dir: dict[str, int] = {}
    for rel in _warehouse_files(wh):
        d = os.path.dirname(rel)
        per_dir[d] = per_dir.get(d, 0) + 1
    return sum(per_dir.values()) / max(1, len(per_dir))


# ---------------------------------------------------------------------------
# ingest_fresh
# ---------------------------------------------------------------------------


def ingest_fresh(ctx: Ctx) -> Result:
    res = Result()
    size = ctx.size
    t_setup = time.perf_counter()
    backlog = os.path.join(ctx.root, "in")
    os.makedirs(backlog)
    days, late = range(TODAY - 6, TODAY + 1), (TODAY - 9, TODAY - 8)
    n_batches = max(size.min_ops, int(ctx.seconds // 3))
    expected: dict[str, int] = {}
    input_bytes = 0
    for i in range(size.fresh_warm_batches + n_batches):
        nbytes, counts, _ = gen.write_billing_file(
            os.path.join(backlog, f"f{i:04d}.json"), ctx.seed * 1000 + i, size.fresh_records, days, late
        )
        input_bytes += nbytes
        _add(expected, counts)
    wh = os.path.join(ctx.root, "wh")
    pipe = _pipeline(ctx, backlog, "file://" + wh)
    ops = Ops(ctx)
    # the drain's first micro-batches warm the code up and count as set-up
    warm_end: list[float] = []
    log = _timed_batches(ctx, pipe, wh, ops, warm=size.fresh_warm_batches, warm_end=warm_end)

    try:
        pipe.run_available_now(os.path.join(ctx.root, "ck"))
    except Exception as e:  # the failing batch is recorded as a failed operation
        res.errors.append(f"drain failed: {type(e).__name__}: {str(e)[:300]}")
    t_end = time.perf_counter()
    warm_end = warm_end or [t_end]
    res.setup_s = warm_end[0] - t_setup
    drain_s = t_end - warm_end[0]

    res.attempted, res.failed = ops.count()
    res.errors += _ingest_gate(pipe, wh, expected)
    lat = [b["s"] for b in log]
    res.e2e = {"op_typical_s": median(lat), "cycle_s": drain_s / len(lat)}
    res.detail = {
        "batches": len(lat),
        "records_per_batch": size.fresh_records,
        "rows_per_s": size.fresh_records * len(lat) / drain_s,
        "batch_p50_s": median(lat),
        "batch_tail_s": tail(lat),
        "batch_latencies_s": lat,
        "drain_s": drain_s,
        "stored_bytes_per_input_byte": sum(_warehouse_files(wh).values()) / input_bytes,
    }
    if ctx.tracer is not None:
        res.layers = ingest_layers(ctx, ops.of("batch"), log, wh)
        in_callback = sum(r["s"] + r.get("bookkeeping_s", 0.0) for r in ops.records)
        res.layers["stream.between_batches_s"] = (drain_s - in_callback) / len(lat)
    return res


# ---------------------------------------------------------------------------
# warehouse_aged
# ---------------------------------------------------------------------------


def warehouse_aged(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    res = Result()
    size = ctx.size
    compact_partition = _mod("compact").compact_partition
    read_table_as_of = _mod("sources.tables").read_table_as_of

    t_setup = time.perf_counter()
    in_dir, staged = os.path.join(ctx.root, "in"), os.path.join(ctx.root, "staged")
    os.makedirs(in_dir)
    os.makedirs(staged)
    wh, ck = os.path.join(ctx.root, "wh"), os.path.join(ctx.root, "ck")
    age_bytes, expected, by_day = gen.write_billing_file(
        os.path.join(in_dir, "age.json"), ctx.seed * 1000 + 999, size.age_records,
        range(TODAY - size.age_days + 1, TODAY + 1),
    )
    input_bytes = age_bytes
    # cycle k is day TODAY + k: records over today and yesterday, late
    # ones 3-5 days old; cycle 0 is the warm-up
    max_cycles = max(size.min_ops, int(ctx.seconds // 2))
    staged_inputs = {}
    for k in range(max_cycles + 1):
        day = TODAY + k
        path = os.path.join(staged, f"c{k:04d}.json")
        nbytes, counts, day_counts = gen.write_billing_file(
            path, ctx.seed * 1000 + k, size.cycle_records, (day - 1, day), range(day - 5, day - 2)
        )
        staged_inputs[k] = (path, day, nbytes, counts, day_counts)
    # Aging: the query's first micro-batch writes ``age_days`` day
    # partitions per route and warms up the write path. It goes through
    # the bare local path (LocalFS) only to keep set-up short; the cycles
    # then run on the same warehouse and checkpoint through file://
    # (HadoopFS), as a deployment would.
    _pipeline(ctx, in_dir, wh).run_available_now(ck)
    pipe = _pipeline(ctx, in_dir, "file://" + wh)
    log = _timed_batches(ctx, pipe, wh)
    transfers = "file://" + os.path.join(wh, "transfers")
    read_errors: list[str] = []

    def dashboard(day: int, batch_id: int):
        """Read the transfers table as of ``batch_id`` and count the rows
        and bytes of each day of the week ending ``day``."""
        week = [gen.day_str(d) for d in range(day - 6, day + 1)]

        def read():
            snap = read_table_as_of(ctx.spark, transfers, batch_id)
            rows = (
                snap.where(F.col("partition_date").isin(week))
                .groupBy("partition_date")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("fileSize").alias("bytes"))
                .collect()
            )
            return snap, {str(r["partition_date"]): r["n"] for r in rows}

        snap, per_day = span(ctx, "exec.read", read)
        want = {
            gen.day_str(d): by_day[("transfers", d)]
            for d in range(day - 6, day + 1)
            if by_day.get(("transfers", d))
        }
        if per_day != want:
            read_errors.append(f"dashboard for {gen.day_str(day)}: read {per_day}, expected {want}")
        return snap

    def cycle(k: int) -> dict:
        nonlocal input_bytes
        path, day, nbytes, counts, day_counts = staged_inputs[k]
        os.rename(path, os.path.join(in_dir, os.path.basename(path)))
        input_bytes += nbytes
        _add(expected, counts)
        _add(by_day, day_counts)
        t = time.perf_counter()
        span(ctx, "stream.drain", lambda: pipe.run_available_now(ck))
        drain_s, t = time.perf_counter() - t, time.perf_counter()
        snap = dashboard(day, log[-1]["batch_id"])
        read_s, t = time.perf_counter() - t, time.perf_counter()
        closed = gen.day_str(day - 1)  # no later batch writes to it
        info = {"rows": sum(counts.values()), "drain_s": drain_s, "read_s": read_s}
        if ctx.tracer is not None:
            closed_dir = os.path.join(wh, "transfers", f"partition_date={closed}")
            before = _data_files(closed_dir)
            info.update(read_files=len(snap.inputFiles()), compact_files_in=len(before),
                        compact_bytes_rewritten=sum(before.values()))
            t = time.perf_counter()
        compact_partition(ctx.spark, transfers, closed)
        info["compact_s"] = time.perf_counter() - t
        if ctx.tracer is not None:
            info["compact_files_out"] = len(_data_files(closed_dir))
        return info

    cycle(0)  # warm-up: first run of the file:// write, read and compaction paths
    log.clear()
    res.setup_s = time.perf_counter() - t_setup

    ops = Ops(ctx)
    t0 = time.perf_counter()
    for k in range(1, max_cycles + 1):
        if k > size.min_ops and time.perf_counter() - t0 >= ctx.seconds:
            break
        info = ops.run("cycle", lambda k=k: cycle(k))
        if info is not None:
            ops.records[-1].update(info)

    res.attempted, res.failed = ops.count()
    res.errors += read_errors + _ingest_gate(pipe, wh, expected)
    cycles = ops.of("cycle")
    batch_lat = [b["s"] for b in log]
    drained = sum(r["drain_s"] for r in cycles)
    rows = sum(r["rows"] for r in cycles)
    res.e2e = {
        "op_typical_s": median(batch_lat),
        "cycle_s": sum(r["s"] for r in cycles) / len(cycles),
    }
    res.detail.update({
        "cycles": len(cycles),
        "age_days": size.age_days,
        "records_per_batch": size.cycle_records,
        "rows_per_s": rows / drained,
        "batch_p50_s": median(batch_lat),
        "batch_tail_s": tail(batch_lat),
        "batch_latencies_s": batch_lat,
        "cycle_latencies_s": [r["s"] for r in cycles],
        "read_p50_s": median([r["read_s"] for r in cycles]),
        "compact_p50_s": median([r["compact_s"] for r in cycles]),
        "stored_bytes_per_input_byte": sum(_warehouse_files(wh).values()) / input_bytes,
    })
    if ctx.tracer is not None:
        res.layers = ingest_layers(ctx, cycles, log, wh)
        traced = [r for r in cycles if r["traced"]]
        batch_s = {b["op"]: b["s"] for b in log if b["op"]}
        res.layers.update(
            {
                "stream.between_batches_s": _mean([r["drain_s"] - batch_s[r["id"]] for r in traced]),
                "compact.s": _mean([r["compact_s"] for r in traced]),
                "compact.bytes_rewritten": _mean([r["compact_bytes_rewritten"] for r in traced]),
                "compact.files_in": _mean([r["compact_files_in"] for r in traced]),
                "compact.files_out": _mean([r["compact_files_out"] for r in traced]),
                "read.files": _mean([r["read_files"] for r in traced]),
                "read.list_s": _span_total(ctx, "tables.read_as_of", traced) / max(1, len(traced)),
                "read.exec_s": (_span_total(ctx, "exec.read", traced)
                                - _span_total(ctx, "tables.read_as_of", traced)) / max(1, len(traced)),
            }
        )
    return res


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def query_mix(ctx: Ctx) -> Result:
    res = Result()
    plans = _mod("plans")
    queries = {**plans.QUERIES, **plans.BENCH_EXTRA}
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(plans.__file__))))
    sys.path.insert(0, os.path.join(repo, "tests"))
    import oracle_harness

    sys.path.insert(0, repo)
    from bench import consume

    t_setup = time.perf_counter()
    star = os.path.join(ctx.root, "star")
    gen.write_star_schema(star, ctx.seed, ctx.size.star_sf)

    def canonical(name: str) -> list[tuple]:
        return oracle_harness.canonical_rows(queries[name](ctx.spark, star).toPandas())

    # warm-up pass; its results are the first digest of each query
    first = {name: canonical(name) for name in MIX}
    res.setup_s = time.perf_counter() - t_setup

    ops = Ops(ctx)
    passes = []
    t0 = time.perf_counter()
    while len(passes) < ctx.size.min_ops or time.perf_counter() - t0 < ctx.seconds:
        p0 = time.perf_counter()
        for i, name in enumerate(MIX):
            fn = queries[name]
            ops.run(
                "query",
                lambda fn=fn, name=name: span(
                    ctx, "exec.consume",
                    lambda: consume(span(ctx, "catalog.build", lambda: fn(ctx.spark, star))),
                ),
                traced=(i + len(passes)) % 2 == 0,
                query=name,
            )
        passes.append(time.perf_counter() - p0)

    res.attempted, res.failed = ops.count()
    # gate: every query again, compared with the warm-up digest and,
    # where the catalog has one, its DuckDB oracle twin
    con = oracle_harness.duck_connection(star)
    digests, oracle = {}, {}
    for name in MIX:
        rows = canonical(name)
        digests[name] = [gate.rows_digest(first[name]), gate.rows_digest(rows)]
        if name in plans.ORACLES:
            want = oracle_harness.canonical_rows(con.execute(plans.ORACLES[name]).df())
            oracle[name] = {"mode": "oracle", "ok": rows == want, "rows": len(rows), "oracle_rows": len(want)}
        else:
            oracle[name] = {"mode": "rows_only", "ok": len(rows) > 0, "rows": len(rows)}
    con.close()
    res.errors += gate.check_query_results(digests, oracle)
    per_query = {name: median([r["s"] for r in ops.of("query") if r["query"] == name]) for name in MIX}
    res.e2e = {
        "op_typical_s": geomean(list(per_query.values())),
        "cycle_s": median(passes),
    }
    res.detail = {
        "passes": len(passes),
        "sf": ctx.size.star_sf,
        "mix_pass_s": median(passes),
        "query_geomean_s": geomean(list(per_query.values())),
        "query_p50_s": per_query,
        "pass_latencies_s": passes,
        "query_tail_s": tail([r["s"] for r in ops.of("query")]),
        "oracle": oracle,
    }
    if ctx.tracer is not None:
        traced_q = [r for r in ops.of("query") if r["traced"]]
        res.layers = common_layers(ctx, ops.of("query"), key="query")
        res.layers["catalog.build_s"] = _span_total(ctx, "catalog.build", traced_q) / max(1, len(traced_q))
        for name in MIX:
            mine = [r for r in ops.of("query") if r["query"] == name]
            traced = [r for r in mine if r["traced"]]
            res.layers[f"query.{name}.s"] = median([r["s"] for r in mine])
            res.layers[f"query.{name}.driver_gap_s"] = _mean([r["spark"]["driver_gap_s"] for r in traced])
            res.layers[f"query.{name}.executor_run_s"] = _mean([r["spark"]["executor_run_s"] for r in traced])
    return res


WORKLOADS = {"ingest_fresh": ingest_fresh, "warehouse_aged": warehouse_aged, "query_mix": query_mix}


# ---------------------------------------------------------------------------
# per-layer metrics from the traced run
# ---------------------------------------------------------------------------


def _mean(xs: list[float]) -> float:
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else 0.0


def _spans(ctx: Ctx, op_ids: set[str]):
    for name, start, end, parent, op, extra in ctx.tracer.spans:
        if op in op_ids and end is not None:
            yield name, end - start, parent, extra


def _span_total(ctx: Ctx, name: str, ops: list[dict]) -> float:
    """Total time the operations ``ops`` spent in spans called ``name``."""
    return sum(d for n, d, _p, _x in _spans(ctx, {r["id"] for r in ops}) if n == name)


def common_layers(ctx: Ctx, unit_ops: list[dict], key: str = "kind") -> dict[str, float]:
    """Means per traced operation: Spark counters, fs calls and listing
    time, self time per layer; and the tracing overhead, the geometric
    mean over ``key`` groups of traced / untraced median latency, - 1."""
    traced = [r for r in unit_ops if r["traced"]]
    ids = {r["id"] for r in traced}
    n = max(1, len(ids))
    out: dict[str, float] = {}
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = _mean([r["spark"][k] for r in traced])
    calls: dict[str, int] = {}
    list_s = 0.0
    for name, dur, _p, _x in _spans(ctx, ids):
        if name.startswith("fs."):
            calls[name] = calls.get(name, 0) + 1
            if name in ("fs.list_entries", "fs.list_files_recursive"):
                list_s += dur
    out["fs.list_calls"] = (calls.get("fs.list_entries", 0) + calls.get("fs.list_files_recursive", 0)) / n
    out["fs.list_s"] = list_s / n
    for call in ("rename", "mkdirs", "delete"):
        out[f"fs.{call}_calls"] = calls.get(f"fs.{call}", 0) / n
    out["fs.calls"] = sum(calls.values()) / n
    selfs = ctx.tracer.self_times()
    for layer in LAYER_NAMES:
        out[f"self_s.{layer}"] = sum(selfs.get(i, {}).get(layer, 0.0) for i in ids) / n
    out["trace.spans_per_op"] = sum(1 for _ in _spans(ctx, ids)) / n
    ratios = []
    for group in {r[key] for r in unit_ops}:
        on = [r["s"] for r in unit_ops if r[key] == group and r["traced"]]
        off = [r["s"] for r in unit_ops if r[key] == group and not r["traced"]]
        if on and off:
            ratios.append(median(on) / median(off))
    out["trace.overhead_ratio"] = geomean(ratios) - 1.0 if ratios else 0.0
    return out


SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "input_bytes", "output_bytes", "driver_gap_s")


def ingest_layers(ctx: Ctx, unit_ops: list[dict], log: list[dict], wh: str) -> dict[str, float]:
    """``common_layers`` plus the sink's numbers per traced micro-batch."""
    out = common_layers(ctx, unit_ops)
    ids = {r["id"] for r in unit_ops if r["traced"]}
    spans = ctx.tracer.spans
    batch_of: list[int | None] = [None] * len(spans)  # enclosing pipeline.batch span
    in_ledger = [False] * len(spans)
    first_write: set[int] = set()
    tot = dict.fromkeys(("fs", "cleanup", "lread", "lcommit", "lbytes", "first", "rest"), 0.0)
    n = 0
    for i, (name, start, end, parent, op, extra) in enumerate(spans):
        if op not in ids or end is None:
            continue
        batch_of[i] = i if name == "pipeline.batch" else (batch_of[parent] if parent is not None else None)
        in_ledger[i] = name.startswith("ledger.") or (parent is not None and in_ledger[parent])
        if batch_of[i] is None:
            continue
        d = end - start
        n += name == "pipeline.batch"
        tot["fs"] += name.startswith("fs.")
        if in_ledger[i]:
            tot["lbytes"] += extra.get("bytes", 0)
        if name == "sink.cleanup":
            tot["cleanup"] += d
        elif name == "ledger.read":
            tot["lread"] += d
        elif name == "ledger.commit":
            tot["lcommit"] += d
        elif name == "sink.write":
            tot["rest" if batch_of[i] in first_write else "first"] += d
            first_write.add(batch_of[i])
    n = max(1, n)
    traced_log = [b for b in log if b["op"] in ids]
    out.update(
        {
            "fs.calls_per_batch": tot["fs"] / n,
            "sink.cleanup_s": tot["cleanup"] / n,
            "ledger.read_s": tot["lread"] / n,
            "ledger.commit_s": tot["lcommit"] / n,
            "ledger.bytes": tot["lbytes"] / n,
            "sink.write_first_s": tot["first"] / n,
            "sink.write_rest_s": tot["rest"] / n,
            "sink.files_written": _mean([b.get("files_written") for b in traced_log]),
            "sink.bytes_written": _mean([b.get("bytes_written") for b in traced_log]),
            "sink.files_per_partition": _files_per_partition(wh),
        }
    )
    return out
