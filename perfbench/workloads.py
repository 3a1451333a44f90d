"""The benchmark's workloads, their output checks and their metrics.

Each workload runs from one process on ``local[nproc]`` with a single
client. Setup starts the session, lays out the workload's inputs and
lake and warms the queries up; then write operations (``write_s``)
land in the lake, taking turns with rounds of read-only queries
(``query_ms``).

``dag_nightly`` is the reference's purpose: the nightly tick of the
twelve-flow graph over a lake holding the price and return history,
with research accessors over the lake before and after the tick.
``stream_dedup`` is the engine's streaming tier: a first verified
MinHash micro-batch in setup fills the filelist-catalog state, three
measured ones upsert into it, each followed by the headline registry
queries. Traced runs then curate the same corpus with
``curate_corpus``. Every operation's output is checked; a failed check
counts as a failed operation.
"""

from __future__ import annotations

import datetime as dt
import gc
import math
import resource
import statistics
import time
from collections import Counter
from pathlib import Path

import numpy as np

from perfbench import inputs
from perfbench.trace import COUNTERS, Tracer

# ---- workload sizes (one place, so the doc and the code agree) ----
DAG = {"tickers": 80, "days": 600, "window": 252, "half_life": 60.0}
STREAM = {"docs": 600, "epochs": 4, "events": 10_000, "orders": 4_000}

RUNNER_TABLES = (
    "stock_returns", "etf_returns", "factor_loadings", "idio_vol",
    "factor_covariances", "signals", "scores", "alphas", "benchmark_weights",
    "benchmark_returns", "betas", "portfolio_weights", "portfolio_metrics",
)
HEADLINE = (  # bench.py HEADLINE
    "w1_pct_change", "w2_rolling_sum21", "a5_zscore_global",
    "a6_equal_weight_benchmark", "j2_shipping_priority",
    "r2_pivot_event_type", "o3_topk_dates",
)

# the stages of the curation run, in order (pipelines/corpus.curate_corpus)
CURATE_STAGES = (
    "input", "exact_dedup", "near_dedup", "semantic_dedup", "span_rewrite", "span_dedup",
    "quality_lang_gate", "quality_model_gate", "perplexity_band", "source_mix",
)

END_TO_END = {
    "setup_s": "s",
    "write_s": "s",
    "query_ms": "ms",
    "lake_mb": "MB",
}

PER_LAYER = {"session.start_s": "s", "session.peak_rss_mb": "MB"}
PER_LAYER.update({f"catalog.{m}": u for m, u in (
    ("upsert.calls", "count"), ("upsert.s", "s"), ("upsert.self_s", "s"),
    ("insert.s", "s"), ("optimize.calls", "count"), ("optimize.s", "s"),
    ("compact.calls", "count"), ("compact.s", "s"), ("rewrite.s", "s"),
    ("delete_matching.s", "s"), ("fastpath_ratio", "ratio"), ("table.s", "s"),
    ("jobs", "count"), ("files", "count"),
)})
PER_LAYER.update({f"runner.daily.{t}.s": "s" for t in RUNNER_TABLES})
PER_LAYER.update({"runner.daily.driver_s": "s", "runner.daily.jobs": "count"})
PER_LAYER.update({"pin.calls": "count", "pin.eager_s": "s", "pin.blocks_mb": "MB"})
PER_LAYER.update({f"stream.upsert.{t}.s": "s" for t in ("sigs", "words", "pairs")})
PER_LAYER.update({f"stream.state_rows.{t}": "count" for t in ("sigs", "words", "pairs")})
PER_LAYER["stream.jobs_per_batch"] = "count"
PER_LAYER.update({f"corpus.stage.{st}.rows": "count" for st in CURATE_STAGES})
PER_LAYER.update({"corpus.curate_s": "s", "corpus.pins": "count", "corpus.pin_s": "s",
                  "dedup.resolve_groups.calls": "count", "dedup.resolve_groups.s": "s"})
PER_LAYER.update({f"api.{a}.p50_ms": "ms" for a in inputs.ACCESSORS})
PER_LAYER.update({"api.plan_ms": "ms", "plans.headline.p50_ms": "ms", "query.jobs_per_query": "count"})
PER_LAYER.update({f"spark.{c}": ("MB" if c.endswith("_mb") else "s" if c.endswith("_s") else "count")
                  for c in COUNTERS})
PER_LAYER.update({"box.cpu_s": "s", "box.sched_s_per_job": "s", "trace.overhead_s": "s"})


class CheckFailed(AssertionError):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def parquet_files(path: Path) -> int:
    return sum(1 for _ in path.rglob("*.parquet"))


class Run:
    """One benchmark run: the Spark session, the optional tracer, the
    operation counters and the samples the metrics are computed from."""

    def __init__(self, spark, work: Path, seconds: int, tracer: Tracer | None, t_process: float):
        self.spark = spark
        self.work = work
        self.seconds = seconds
        self.tracer = tracer
        self.t_process = t_process
        self.t_measure = t_process  # the end of setup
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {"phases": []}
        self.blocks_mb = 0.0

    def end_setup(self) -> None:
        self.t_measure = time.perf_counter()
        self.info["setup_s"] = self.t_measure - self.t_process

    def mark(self, label: str) -> None:
        """Record the run's wall clock at a phase boundary (for the report)."""
        self.info["phases"].append((label, round(time.perf_counter() - self.t_process, 3)))

    def settle(self) -> None:
        """Collect garbage in both processes before a measured phase, so
        one phase's heap debt is not paid inside the next one's timing."""
        gc.collect()
        self.spark._jvm.System.gc()

    def op(self, kind: str, fn, verify=None):
        """Time ``fn()`` as one operation and check its output with
        ``verify(result)`` outside the timed region. Returns (seconds,
        result), or (None, None) when the op raised or failed its check."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            if self.tracer is not None:
                with self.tracer.span(f"op.{kind}"):
                    out = fn()
            else:
                out = fn()
            secs = time.perf_counter() - t0
            self.mark(f"{kind} done")
            if self.tracer is not None:
                self._sample_blocks()
                self.tracer.resolve()
            if verify is not None:
                verify(out)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.failed += 1
            self.errors.append(f"{kind}: {type(exc).__name__}: {str(exc)[:300]}")
            return None, None
        return secs, out

    def _sample_blocks(self) -> None:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        self.blocks_mb = max(self.blocks_mb, mb)

    def add(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)


# ------------------------------------------------------------------ anchors


def box_anchor(spark) -> dict:
    """Fixed-work contention anchor: a pure-Python CPU loop and the
    per-job scheduling floor of trivial Spark jobs. A run where these
    moved was contended, not regressed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    cpu = time.perf_counter() - t0
    runs = []
    for _ in range(6):
        t0 = time.perf_counter()
        spark.range(4, numPartitions=4).count()
        runs.append(time.perf_counter() - t0)
    return {"box.cpu_s": cpu, "box.sched_s_per_job": statistics.median(runs[1:])}


def peak_rss_mb(spark) -> float:
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm = 0.0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024
    return py + jvm


# ------------------------------------------------------------------ dag_nightly


def _check_history(cat, mk: inputs.Market, hist_end: dt.date) -> None:
    n_days = sum(1 for d in mk.dates if d <= hist_end)
    for table, names in (("stock_returns", len(mk.tickers)), ("etf_returns", len(inputs.FACTOR_ETFS))):
        n = cat.table(table).count()
        check(n == names * (n_days - 1), f"{table} has {n} rows, expected {names * (n_days - 1)}")
    n = cat.table("benchmark_returns").count()
    check(n == n_days - 1, f"benchmark_returns has {n} rows, expected {n_days - 1}")


def _check_tick(cat, day: dt.date, members: int) -> None:
    from pyspark.sql import functions as F

    n_sig = cat.table("signals").filter(F.col("date") == F.lit(day)).count()
    check(n_sig > 0, f"tick {day} wrote no end-date signals")
    w = (
        cat.table("portfolio_weights").filter(F.col("date") == F.lit(day))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("weight").alias("s"), F.min("weight").alias("mn"))
        .first()
    )
    check(0 < w.n <= members, f"tick {day} wrote {w.n} weights for {members} members")
    check(abs(w.s - 1.0) < 1e-6 and w.mn > -1e-9, f"tick {day} weights sum {w.s}, min {w.mn}")
    n_m = cat.table("portfolio_metrics").filter(F.col("date") == F.lit(day)).count()
    check(n_m == 1, f"tick {day} wrote {n_m} portfolio_metrics rows")


def dag_nightly(run: Run, seed: int) -> None:
    from pyspark.sql import functions as F

    from nt_data_pipelines_spark.api import Engine
    from nt_data_pipelines_spark.catalog import Catalog
    from nt_data_pipelines_spark.pipelines import (
        calculate_benchmark_returns,
        calculate_benchmark_weights,
        compute_returns,
        runner,
    )

    spark = run.spark
    mk = inputs.market(seed, DAG["tickers"], DAG["days"])
    day = mk.dates[-1]  # the tick's new day
    hist_end = mk.dates[-2]
    rounds = inputs.query_rounds(seed, mk.dates[:-1], 3)
    run.info["inputs"] = {
        "tickers": len(mk.tickers), "etfs": len(inputs.FACTOR_ETFS), "days": len(mk.dates),
        "stock_rows": len(mk.stocks), "etf_rows": len(mk.etfs), "universe_rows": len(mk.universe),
        "window": DAG["window"], "queries": sum(map(len, rounds)),
    }
    stocks = spark.createDataFrame(mk.stocks).withColumn("year", F.year("date"))
    etfs = spark.createDataFrame(mk.etfs).withColumn("year", F.year("date"))
    lake = run.work / "lake"
    cat = Catalog(spark, str(lake))  # default (rename) commit mode
    runner.ensure_tables(cat)
    run.mark("tables created")
    cat.upsert("calendar", spark.createDataFrame([(d,) for d in mk.dates], "date date"))
    cat.upsert("universe", spark.createDataFrame(mk.universe))
    install(run)

    def history():
        """Bulk writes into empty tables: the price history and the
        history the tick's trailing windows read (returns and benchmark
        returns), built by the flows' own stage functions."""
        cat.upsert("stock_prices", stocks.filter(F.col("date") <= F.lit(hist_end)))
        cat.upsert("etf_prices", etfs.filter(F.col("date") <= F.lit(hist_end)))
        cat.upsert("stock_returns", compute_returns(cat.table("stock_prices")))
        cat.upsert("etf_returns", compute_returns(cat.table("etf_prices")))
        uni_ret = (
            cat.table("universe")
            .join(cat.table("stock_returns").select("date", "ticker", "return"), ["date", "ticker"], "left")
            .filter(F.col("return").isNotNull())
        )
        cat.upsert("benchmark_weights", calculate_benchmark_weights(uni_ret))
        cat.upsert("benchmark_returns", calculate_benchmark_returns(uni_ret, cat.table("benchmark_weights")))

    # the history layout is setup, but traced: its bulk upserts into
    # empty tables are the catalog's other upsert shape
    secs, _ = run.op("layout", history, lambda _: _check_history(cat, mk, hist_end))
    if secs is None:
        return  # the tick cannot run without its history

    eng = Engine(cat)
    priced = {"last": hist_end}  # the last day with prices in the lake

    def expected(q) -> int:
        if q.accessor == "get_stock_returns":
            return inputs.return_rows(mk, len(mk.tickers), q.start, q.end, priced["last"])
        if q.accessor == "get_etf_returns":
            return inputs.return_rows(mk, len(inputs.FACTOR_ETFS), q.start, q.end, priced["last"])
        return inputs.universe_rows(mk, q.start, q.end)  # universe-gated: a left join

    def one(q):
        t0 = time.perf_counter()
        df = getattr(eng, q.accessor)(q.start, q.end)
        plan = time.perf_counter() - t0
        return plan, df.toArrow().num_rows

    def verify_rows(out, q):
        check(out[1] == expected(q), f"{q.accessor}({q.start}, {q.end}) gave {out[1]} rows, expected {expected(q)}")

    _warm_queries(run, rounds[-1], one, verify_rows)
    run.end_setup()

    def tick():
        # the tick starts when the day's bars arrive
        cat.upsert("stock_prices", stocks.filter(F.col("date") == F.lit(day)))
        cat.upsert("etf_prices", etfs.filter(F.col("date") == F.lit(day)))
        return runner.daily_flow(
            spark, cat, today=day + dt.timedelta(days=1),
            window=DAG["window"], half_life=DAG["half_life"],
        )

    def verify(ran):
        check(ran is True, f"freshness gate did not fire for {day}")
        members = sum(1 for a, b in mk.membership.values() if a <= len(mk.dates) - 1 < b)
        _check_tick(cat, day, members)

    # the query rounds run around the tick: research reads of the
    # history during the day, then two of the lake the tick wrote. A
    # slow stretch of the shared host then slows some rounds, not all.
    _query_round(run, rounds[0], one, verify_rows, lambda q: q.kind)
    run.settle()
    secs, _ = run.op("tick", tick, verify)
    if secs is not None:
        run.add("write", secs)
    priced["last"] = day
    for round_ in rounds[1:]:
        _query_round(run, round_, one, verify_rows, lambda q: q.kind)
    _query_extra(run, rounds, one, verify_rows, lambda q: q.kind)
    run.info["lake_mb"] = dir_bytes(lake) / 2**20
    run.layer["catalog.files"] = parquet_files(lake)


# ------------------------------------------------------------------ stream_dedup


def _canon(v):
    """Canonical cell text so Spark and DuckDB rows compare equal (the
    scripts/check_parity.py rules)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0.0" if v == 0.0 else repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _multiset(rows: list[tuple], cols: list[str]) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_canon(r[i]) for i in order) for r in rows)


def _oracles(data_dir: Path) -> dict[str, Counter]:
    """DuckDB oracle result per headline query, computed in setup."""
    import duckdb

    from nt_data_pipelines_spark import plans

    con = duckdb.connect()
    try:
        for t in ("events", "customer", "orders", "lineitem"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'")
        out = {}
        for name in HEADLINE:
            res = con.sql(plans.REGISTRY[name].oracle)
            cols = [d[0] for d in res.description]
            out[name] = _multiset(res.fetchall(), cols)
        return out
    finally:
        con.close()


def _sorted_arrow(tbl):
    return tbl.sort_by([(c, "ascending") for c in tbl.column_names])


def stream_dedup(run: Run, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nt_data_pipelines_spark import plans
    from nt_data_pipelines_spark.catalog import Catalog
    from nt_data_pipelines_spark.streaming import minhash_foreach_batch, streaming_dup_groups
    from nt_data_pipelines_spark.streaming.incremental import (
        DUP_PAIR_SCHEMA,
        MINHASH_STATE_SCHEMA,
        WORD_STATE_SCHEMA,
    )

    spark = run.spark
    cp = inputs.corpus(seed, STREAM["docs"])
    tables = inputs.registry_tables(seed, STREAM["events"], STREAM["orders"])
    data_dir = run.work / "testdata"
    data_dir.mkdir(parents=True)
    for name, pdf in tables.items():
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), data_dir / f"{name}.parquet")
    oracle = _oracles(data_dir)
    run.mark("inputs and oracles")
    cluster = cp.clusters()
    # doc k arrives in epoch k mod STREAM["epochs"], so each epoch carries planted
    # copies, and a copy meets its original in its own batch, in the
    # state an earlier batch left, or (arriving first) as the state a
    # later batch meets
    epochs = [cp.docs[cp.docs.doc_id % STREAM["epochs"] == e] for e in range(STREAM["epochs"])]
    run.info["inputs"] = {
        "docs": len(cp.docs), "epoch_docs": [len(e) for e in epochs],
        "exact_copies": len(cp.exact_copies), "near_dups": len(cp.near_dups),
        "semantic_dups": len(cp.semantic_dups), "sources": inputs.N_SOURCES,
        "queries": len(HEADLINE) * (STREAM["epochs"] - 1), **{f"{k}_rows": len(v) for k, v in tables.items()},
    }
    batches = [spark.createDataFrame(e[["doc_id", "text"]]) for e in epochs]

    lake = run.work / "stream_lake"
    cat = Catalog(spark, str(lake), commit_mode="filelist")
    cat.create("sigs", MINHASH_STATE_SCHEMA, None, ["doc_id", "band"])
    cat.create("pairs", DUP_PAIR_SCHEMA, None, ["id_a", "id_b"])
    cat.create("words", WORD_STATE_SCHEMA, None, ["doc_id", "word"])
    sink = minhash_foreach_batch(
        cat, "sigs", "pairs", words_table="words", verify_threshold=0.7,
        state_bucket_cap=64, edges_per_doc=4,
    )

    def verify_pairs(n_epochs):
        """Stored pairs join two docs of one planted cluster, every
        planted pair among the docs of the first ``n_epochs`` epochs is
        grouped by the program's own resolution, and the state holds a
        row per (doc, band)."""
        seen = {int(i) for e in epochs[:n_epochs] for i in e.doc_id}
        stored = [(r.id_a, r.id_b) for r in cat.table("pairs").select("id_a", "id_b").collect()]
        bad = [p for p in stored if not (p[0] < p[1] and p[0] in cluster and cluster[p[0]] == cluster.get(p[1]))]
        check(not bad, f"{len(bad)} stored pairs outside planted clusters, e.g. {bad[:3]}")
        groups = {r.doc_id: r.canonical_id for r in streaming_dup_groups(cat, "pairs").collect()}
        missing = [
            d for d, o in cluster.items()
            if d != o and d in seen and o in seen and groups.get(d, d) != groups.get(o, o)
        ]
        check(not missing, f"{len(missing)} planted docs not grouped with their original, e.g. {missing[:5]}")
        n_sigs = cat.table("sigs").count()
        check(n_sigs == 4 * len(seen), f"sigs holds {n_sigs} rows for {len(seen)} docs x 4 bands")
        run.layer.update({"stream.state_rows.sigs": n_sigs, "stream.state_rows.pairs": len(stored)})

    def one(name):
        t0 = time.perf_counter()
        df = plans.REGISTRY[name].fn(spark, str(data_dir))
        plan = time.perf_counter() - t0
        return plan, df.toArrow()

    def verify_query(out, name):
        tbl = out[1]
        if name not in first:
            got = _multiset([tuple(r.values()) for r in tbl.to_pylist()], tbl.column_names)
            check(got == oracle[name], f"{name}: Spark result differs from the DuckDB oracle")
            first[name] = _sorted_arrow(tbl)
        else:
            check(_sorted_arrow(tbl).equals(first[name]), f"{name}: result changed between executions")

    # epoch 0 is setup: it pays the stream's cold start and leaves the
    # state the measured batches upsert into; the first execution of
    # each query is setup too, and is the one checked against DuckDB
    first: dict[str, object] = {}
    run.op("batch_warmup", lambda: sink(batches[0], epoch_id=0), lambda _: verify_pairs(1))
    _warm_queries(run, HEADLINE, one, verify_query)
    run.end_setup()
    install(run)

    rng = np.random.default_rng([seed, 5])
    rounds = [[HEADLINE[int(k)] for k in rng.permutation(len(HEADLINE))] for _ in batches[1:]]
    # the measured batches alternate with rounds of the query loop, so
    # a burst of contention on the VM hits one sample of each kind
    # rather than all of one kind
    for e, round_ in zip(range(1, len(batches)), rounds):
        run.settle()
        secs, _ = run.op("batch", lambda e=e: sink(batches[e], epoch_id=e), lambda _, e=e: verify_pairs(e + 1))
        if secs is not None:
            run.add("write", secs)
        _query_round(run, round_, one, verify_query, lambda q: q)
    _query_extra(run, rounds, one, verify_query, lambda q: q)
    if run.tracer is not None:
        run.layer["stream.state_rows.words"] = cat.table("words").count()
    run.info["lake_mb"] = dir_bytes(lake) / 2**20
    run.layer["catalog.files"] = parquet_files(lake)
    if run.tracer is not None:
        _curate(run, cp)


def _curate(run: Run, cp: inputs.Corpus) -> None:
    """One ``curate_corpus`` over the stream's corpus with the full
    configuration of ``bench.py``'s ``c3_curate_full``: the text, batch
    dedup, similarity and LM tiers and the eager stage pins. Its time
    and stage counts are per-layer metrics, so it runs in traced runs
    only, after every end-to-end phase."""
    from nt_data_pipelines_spark.pipelines.corpus import CurationConfig, curate_corpus

    spark = run.spark
    config = CurationConfig(
        token_budget_per_source=2000,
        max_docs_per_source=None,
        perplexity_band=(0.1, 0.9),
        quality_model_threshold=0.05,
        remove_dup_spans_n=8,
        semantic_threshold=0.99,
        semantic_dim=inputs.EMBED_DIM,
    )
    docs = spark.createDataFrame(cp.docs)
    emb = spark.createDataFrame(cp.embeddings, "doc_id long, embedding array<float>")
    removed = set(cp.exact_copies) | set(cp.near_dups) | set(cp.semantic_dups)

    def curate():
        packed, accounting = curate_corpus(docs, config=config, embeddings=emb)
        uids = [r.chunk_uid for r in packed.select("chunk_uid").collect()]
        return uids, {r.stage: r.docs for r in accounting.collect()}

    def verify(out):
        """The planted exact copies, near-dup edits and embedding
        repeats leave at their own stages, every stage keeps at most
        what the one before it kept, and no packed chunk comes from a
        removed doc."""
        uids, acc = out
        check(set(acc) == set(CURATE_STAGES), f"accounting stages {sorted(acc)}")
        n = [acc[st] for st in CURATE_STAGES]
        check(all(b <= a for a, b in zip(n, n[1:])), f"accounting increases: {dict(zip(CURATE_STAGES, n))}")
        want = {
            "input": len(cp.docs),
            "exact_dedup": len(cp.docs) - len(cp.exact_copies),
            "near_dedup": len(cp.docs) - len(cp.exact_copies) - len(cp.near_dups),
            "semantic_dedup": len(cp.docs) - len(removed),
        }
        for st, v in want.items():
            check(acc[st] == v, f"stage {st} kept {acc[st]} docs, expected {v}")
        leaked = {int(u.split("#")[0]) for u in uids} & removed
        check(uids and not leaked, f"{len(uids)} packed chunks, from removed docs {sorted(leaked)[:5]}")
        run.layer.update({f"corpus.stage.{st}.rows": acc[st] for st in CURATE_STAGES})

    run.settle()
    secs, _ = run.op("curate", curate, verify)
    # the stage pins are block-manager state: drop them before the run ends
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    if secs is not None:
        run.add("curate", secs)


def _warm_queries(run: Run, warmup, one, verify) -> None:
    """One untimed, checked execution per query kind."""
    for q in warmup:
        run.op("query_warmup", lambda q=q: one(q), lambda o, q=q: verify(o, q))


def _query_round(run: Run, round_, one, verify, kind) -> None:
    """One round of the closed query loop, one client: the next query
    starts when the previous one returns. Each latency is a sample of
    its query kind."""
    t_start = time.perf_counter()
    for q in round_:
        secs, out = run.op("query", lambda q=q: one(q), lambda o, q=q: verify(o, q))
        if secs is not None:
            run.add(f"q.{kind(q)}", secs)
            run.add("plan", out[0])
    run.info["query_wall_s"] = run.info.get("query_wall_s", 0.0) + time.perf_counter() - t_start


def _query_extra(run: Run, rounds, one, verify, kind) -> None:
    """Further whole rounds, cycling through ``rounds``, until the
    measured part of the run has lasted ``--seconds``. Whole rounds keep
    every kind's share of the samples the same."""
    k = 0
    while time.perf_counter() - run.t_measure < run.seconds:
        _query_round(run, rounds[k % len(rounds)], one, verify, kind)
        k += 1


def kind_geomean_ms(samples: dict[str, list[float]], stat, prefix: str = "q.") -> float | None:
    """Geometric mean over the query kinds (sample keys starting with
    ``prefix``) of ``stat`` of each kind's latencies, in ms. Every kind
    weighs the same however often it ran, and the figure does not jump
    between the latency groups of a mixed list as a pooled one does."""
    per_kind = [stat(v) for k, v in samples.items() if k.startswith(prefix) and v]
    if not per_kind:
        return None
    return 1e3 * math.exp(statistics.fmean(math.log(x) for x in per_kind))


# ------------------------------------------------------------------ tracing


def install(run: Run) -> None:
    """Wrap the modules' public functions in spans (traced runs only)."""
    tr = run.tracer
    if tr is None:
        return
    from pyspark.sql.classic.dataframe import DataFrame

    import nt_data_pipelines_spark.pin as pin_mod
    import nt_data_pipelines_spark.pipelines.corpus as corpus_mod
    from nt_data_pipelines_spark.catalog import Catalog
    from nt_data_pipelines_spark.pipelines import runner

    def table_arg(args, kwargs):
        return {"table": args[1] if len(args) > 1 else kwargs.get("name")}

    for m in ("upsert", "insert", "optimize", "compact", "rewrite", "delete_matching", "table"):
        tr.patch(Catalog, m, f"catalog.{m}", table_arg)
    tr.patch(runner, "daily_flow", "runner.daily")
    tr.patch(pin_mod, "pin", "pin.pin", lambda a, k: {"eager": False})  # always lazy
    # curation calls the resolver by the name it imported
    tr.patch(corpus_mod, "resolve_dup_groups_auto", "dedup.resolve_groups")

    def eager(a, k):
        return {"eager": bool(k.get("eager", a[1] if len(a) > 1 else True))}

    tr.patch(DataFrame, "localCheckpoint", "pin.localCheckpoint", eager)
    tr.patch(DataFrame, "checkpoint", "pin.checkpoint", eager)
    tr.patch(DataFrame, "persist", "pin.persist", lambda a, k: {"eager": False})


def layer_metrics(run: Run) -> dict[str, float]:
    """Per-layer metrics from the span tree. Only spans inside a
    measured operation count; totals are over the measured part of the
    run, ``runner.daily.*`` and ``stream.*`` are per tick / per batch."""
    tr = run.tracer
    kids = tr.children()

    def op_of(rec):
        chain = [rec] + tr.ancestors(rec)
        return next((r for r in chain if r["name"].startswith("op.")), None)

    inside = [r for r in tr.spans if op_of(r) is not None]
    ops = [r for r in inside if r["name"].startswith("op.")]
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(run.layer)

    def named(name):
        return [r for r in inside if r["name"] == name]

    def outermost(recs, prefix):
        """The spans not nested in one of the same kind on their own
        thread (a pin the stream sink runs on its side thread counts,
        although it overlaps a pin of the main thread)."""
        return [r for r in recs if not any(a["name"].startswith(prefix) for a in tr.ancestors(r, same_thread=True))]

    dur = tr.duration
    upserts = named("catalog.upsert")
    m["catalog.upsert.calls"] = len(upserts)
    m["catalog.upsert.s"] = sum(dur(r) for r in upserts)
    m["catalog.upsert.self_s"] = sum(tr.self_time(r, kids) for r in upserts)
    m["catalog.insert.s"] = sum(dur(r) for r in named("catalog.insert"))
    for k in ("optimize", "compact"):
        m[f"catalog.{k}.calls"] = len(named(f"catalog.{k}"))
        m[f"catalog.{k}.s"] = sum(dur(r) for r in named(f"catalog.{k}"))
    m["catalog.rewrite.s"] = sum(dur(r) for r in named("catalog.rewrite"))
    m["catalog.delete_matching.s"] = sum(dur(r) for r in named("catalog.delete_matching"))
    m["catalog.table.s"] = sum(dur(r) for r in outermost(named("catalog.table"), "catalog.table"))
    fast = [r for r in upserts if not any(k["name"] == "catalog.optimize" for k in kids.get(r["id"], ()))]
    m["catalog.fastpath_ratio"] = len(fast) / len(upserts) if upserts else 0.0
    cat_top = outermost([r for r in inside if r["name"].startswith("catalog.")], "catalog.")
    m["catalog.jobs"] = sum(tr.inclusive(r, "jobs", kids) for r in cat_top)

    flows = named("runner.daily")
    if flows:
        n = len(flows)
        for t in RUNNER_TABLES:
            m[f"runner.daily.{t}.s"] = sum(
                dur(k) for f in flows for k in kids.get(f["id"], ())
                if k["name"] == "catalog.upsert" and k.get("table") == t
            ) / n
        # flow time outside any upsert: reads, driver actions, planning
        m["runner.daily.driver_s"] = sum(
            dur(f) - sum(
                dur(k) for k in kids.get(f["id"], ())
                if k["name"] == "catalog.upsert" and k["thread"] == f["thread"]
            )
            for f in flows
        ) / n
        m["runner.daily.jobs"] = sum(tr.inclusive(f, "jobs", kids) for f in flows) / n

    # pin time sums over threads, so it can exceed the wall time
    pins = outermost([r for r in inside if r["name"].startswith("pin.")], "pin.")
    m["pin.calls"] = len(pins)
    m["pin.eager_s"] = sum(dur(r) for r in pins if r["eager"])
    m["pin.blocks_mb"] = run.blocks_mb

    curates = [r for r in ops if r["name"] == "op.curate"]
    if curates:
        m["corpus.curate_s"] = sum(dur(r) for r in curates) / len(curates)
        c_pins = [r for r in pins if op_of(r)["name"] == "op.curate"]
        m["corpus.pins"] = len(c_pins) / len(curates)
        m["corpus.pin_s"] = sum(dur(r) for r in c_pins) / len(curates)
        resolves = named("dedup.resolve_groups")
        m["dedup.resolve_groups.calls"] = len(resolves) / len(curates)
        m["dedup.resolve_groups.s"] = sum(dur(r) for r in resolves) / len(curates)

    batches = [r for r in ops if r["name"] == "op.batch"]
    if batches:
        for t in ("sigs", "words", "pairs"):
            m[f"stream.upsert.{t}.s"] = sum(
                dur(r) for r in upserts if r.get("table") == t and op_of(r)["name"] == "op.batch"
            ) / len(batches)
        m["stream.jobs_per_batch"] = sum(tr.inclusive(b, "jobs", kids) for b in batches) / len(batches)

    s = run.samples
    for a in inputs.ACCESSORS:
        m[f"api.{a}.p50_ms"] = kind_geomean_ms(s, statistics.median, f"q.{a}.") or 0.0
    if s.get("plan"):
        m["api.plan_ms"] = 1e3 * statistics.median(s["plan"])
    headline = {k: v for k, v in s.items() if k.removeprefix("q.") in HEADLINE}
    m["plans.headline.p50_ms"] = kind_geomean_ms(headline, statistics.median) or 0.0
    qs = [r for r in ops if r["name"] == "op.query"]
    if qs:
        m["query.jobs_per_query"] = sum(tr.inclusive(q, "jobs", kids) for q in qs) / len(qs)

    for c in COUNTERS:
        m[f"spark.{c}"] = sum(tr.inclusive(o, c, kids) for o in ops)
    m["trace.overhead_s"] = tr.overhead_s
    return m


def end_to_end(run: Run) -> dict[str, float | None]:
    s = run.samples
    return {
        "setup_s": run.info.get("setup_s"),
        "write_s": statistics.median(s["write"]) if s.get("write") else None,
        # each kind's fastest execution: a query takes a fraction of a
        # second, so each execution falls in one stretch of the shared
        # host's speed, and the fastest is the one least slowed by the
        # host's other tenants (see README.md)
        "query_ms": kind_geomean_ms(s, min),
        "lake_mb": run.info.get("lake_mb"),
    }


WORKLOADS = {"dag_nightly": dag_nightly, "stream_dedup": stream_dedup}
