"""The benchmark workloads and the run context they share.

Each workload sets up from its seed, warms up, measures (closed loops
finish the unit of work they started), checks outputs in untimed
passes, and fills ``Bench.e2e``:

- ``setup_s``: process start to ready (session, inputs, index build);
- ``read_s``: latency of one read request (a median, see each workload);
- ``fresh_s``: median latency from a write being issued to its data
  being visible to readers;
- ``bulk_s``: wall time of the workload's bulk load.

Every layer call is wrapped in a span named after the layer; a traced
run turns those spans into the per-layer metrics, and samples
``peak_mem_mb``, the peak summed PSS of the Spark JVM and its Python
workers while measuring.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np

import datagen
from spans import JobLog, MemSampler, Tracer, descendants


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work: str, run_id: str, t_start: float) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.t_start = t_start
        self.rng = random.Random(seed)
        self.tracer = Tracer(run_id)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.checks: dict[str, dict] = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.counts: dict[str, object] = {}
        self._job_metrics: list[tuple[str, dict[str, str]]] = []
        self.spark = None
        self._mem = MemSampler()

    # -- session -----------------------------------------------------------

    def start_session(self) -> None:
        from datalake_toolkit_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.traced:
            conf.update({"spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000",
                         "spark.ui.retainedTasks": "1000"})
        with self.tracer.span("session.start") as s:
            self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                                   extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = s["dur"]

    def close(self) -> None:
        """Stop Spark and its JVM and wait for every child process."""
        self._mem.stop()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is None:
            self.spark.stop()
        else:
            # the gateway JVM exits on stdin EOF, and its shutdown hook
            # stops Spark: a second faster than stop() and then EOF
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - must not leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except OSError:
                pass

    # -- ops, checks, timing -----------------------------------------------

    @contextmanager
    def op(self, name: str, **attrs):
        """One attempted operation: a failure is counted, recorded and
        survived, so the workload keeps its shape."""
        self.attempted += 1
        try:
            with self.tracer.span(name, **attrs) as s:
                yield s
        except Exception as exc:  # noqa: BLE001 - counted in op_error_rate
            self.failed += 1
            self.failures.append(f"{name} {attrs}: {type(exc).__name__}: {exc}"[:500])

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.failed += not ok
        self.checks[name] = {"ok": bool(ok), "detail": detail[:300]}

    def setup_done(self) -> None:
        self.e2e["setup_s"] = time.perf_counter() - self.t_start

    @contextmanager
    def measuring(self):
        # only the traced run samples memory: each read of the JVM's PSS
        # walks its page tables, some 40 ms of kernel time
        if self.traced:
            self._mem.start()
        try:
            yield
        finally:
            if self.traced:
                self._mem.stop()
                self.layer["peak_mem_mb"] = self._mem.peak_mb

    def durations(self, name: str) -> list[float]:
        return [s["dur"] for s in self.tracer.named(name)]

    def jobs_of(self, span_name: str, names: dict[str, str]) -> None:
        """Report JobLog.call_stats keys of ``span_name`` calls under
        the given per-layer metric names (traced runs)."""
        self._job_metrics.append((span_name, names))

    def layer_metrics(self) -> dict[str, float]:
        log = JobLog(self.spark)
        out = dict(self.layer)
        for span_name, names in self._job_metrics:
            stats = log.call_stats(self.tracer.named(span_name, ok_only=False))
            for key, metric in names.items():
                out[metric] = stats[key]
        # end-to-end figures of the traced run, beside the untraced run's
        out.update({f"trace.{k}": v for k, v in self.e2e.items()})
        return out


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs) -> float:
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else _median(xs)


def _concurrently(*fns) -> list:
    """Call independent functions at once, one thread each (Spark
    schedules jobs from several threads), and return their results."""
    with ThreadPoolExecutor(len(fns)) as pool:
        return [f.result() for f in [pool.submit(fn) for fn in fns]]


def _wall(fn, *args, **kwargs) -> float:
    """Wall time of ``fn(*args, **kwargs)``."""
    t0 = time.perf_counter()
    fn(*args, **kwargs)
    return time.perf_counter() - t0


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# -- lake_query_ingest ------------------------------------------------------

LAKE_SF = 0.001
# every PANEL_EVERY-th plan-only query of each registering module, at
# least one per module (a full-registry pass does not fit one run)
PANEL_EVERY = 25
CHECK_THREADS = 3  # beside the warm-up backfill: four threads in all
BACKFILL_FILES = 4
# ~99 MB of CSV: two thirds of a warm call's time scale with the bytes
BACKFILL_ROWS = 1_600_000
TRICKLE_FILES = 100
# all land before the one drain that loads them
TRICKLE_S = 1.0
ROUTES = (("ev", "LOADED", 0.7), ("skip", "SKIPPED", 0.15),
          ("other", "UNMATCHED", 0.15))
PLAN_MODULES = ("queries", "llm_queries", "endpoint_queries", "catalog_queries",
                "lakehouse_queries")


def query_panel() -> list[str]:
    from datalake_toolkit_spark.plans import ORACLE, QUERIES, STATEFUL

    by_module: dict[str, list[str]] = {}
    for name in sorted(QUERIES):
        if name not in STATEFUL and name in ORACLE:
            module = QUERIES[name].__module__.rsplit(".", 1)[1]
            by_module.setdefault(module, []).append(name)
    panel = []
    for names in by_module.values():
        k = max(1, round(len(names) / PANEL_EVERY))
        panel += [names[(2 * i + 1) * len(names) // (2 * k)] for i in range(k)]
    return sorted(panel)


def lake_query_ingest(b: Bench) -> None:
    """The lake without indexes, one client. Writes: one
    ``ingest_delimited`` backfill over a fixed CSV set, then an open-loop
    trickle of small routed / skipped / unmatched CSV files landed at a
    fixed rate and loaded by one ``run_available_now`` drain.
    Reads: registered plan-only queries through the ``noop`` sink over a
    seed-generated star schema (no LakeTable commits, no index work)."""
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tests"))
    from oracle_util import compare, duckdb_con

    from datalake_toolkit_spark.plans import ORACLE, QUERIES
    from datalake_toolkit_spark.sources.ingest import ingest_delimited
    from datalake_toolkit_spark.streaming.ingestion import (
        IngestionPipeline, RoutePlugin, read_ledger)

    rng = np.random.default_rng(b.seed)
    sf_dir, csv_dir = os.path.join(b.work, "sf"), os.path.join(b.work, "csv")
    land, ledger = os.path.join(b.work, "land"), os.path.join(b.work, "ledger")
    out_dir, t_out = os.path.join(b.work, "out"), os.path.join(b.work, "t_out")

    def write_inputs() -> tuple[dict, int]:
        rows = datagen.write_star_schema(sf_dir, b.seed, LAKE_SF)
        os.makedirs(csv_dir)
        os.makedirs(land)
        per = BACKFILL_ROWS // BACKFILL_FILES
        return rows, sum(
            datagen.write_events_csv(
                os.path.join(csv_dir, f"part-{i}.csv"),
                datagen.events_table(rng, per, first_id=i * per))
            for i in range(BACKFILL_FILES))

    with b.tracer.span("setup"), ThreadPoolExecutor(1) as pool:
        inputs = pool.submit(write_inputs)  # while the JVM starts
        b.start_session()
        rows, csv_bytes = inputs.result()
        con = duckdb_con(sf_dir)
        panel = query_panel()
        pipe = IngestionPipeline(
            b.spark, land, datagen.EVENTS_SCHEMA, t_out, ledger,
            os.path.join(b.work, "ckpt"),
            plugins=[RoutePlugin("skip", r"/skip_[^/]*\.csv$", skip=True),
                     RoutePlugin("events", r"/ev_[^/]*\.csv$")])
    b.setup_done()
    module = {q: QUERIES[q].__module__.rsplit(".", 1)[1] for q in panel}

    def backfill(src: str = csv_dir, dest: str = out_dir) -> None:
        ingest_delimited(b.spark, src, dest, schema=datagen.EVENTS_SCHEMA,
                         partition_source="ts", partition_col="dt",
                         partition_kind="date")

    def warm_backfill() -> None:
        # one of the files: the code path, not the volume, needs warming
        backfill(os.path.join(csv_dir, "part-0.csv"),
                 os.path.join(b.work, "warm_out"))

    # trickle file plan: (name, expected ledger status, rows)
    names, probs = [r[0] for r in ROUTES], [r[2] for r in ROUTES]
    status_of = {r[0]: r[1] for r in ROUTES}
    plan = [(f"{p}_{i:04d}.csv", status_of[p], int(n)) for i, (p, n) in
            enumerate(zip(rng.choice(names, TRICKLE_FILES, p=probs),
                          rng.integers(20, 200, TRICKLE_FILES)))]
    landed: dict[str, tuple[float, float]] = {}

    def land_file(i: int, name: str, n: int) -> None:
        first = BACKFILL_ROWS + 1000 * i
        datagen.write_events_csv(
            os.path.join(land, name),
            datagen.events_table(np.random.default_rng([b.seed, i]), n,
                                 first_id=first))

    def trickle(t0: float) -> None:
        """Land the files at a fixed rate, open loop."""
        for i, (name, _, n) in enumerate(plan):
            due = t0 + i * TRICKLE_S / len(plan)
            time.sleep(max(0.0, due - time.time()))
            land_file(i, name, n)
            landed[name] = (due, time.time())

    def check_query(q: str) -> tuple[bool, str]:
        cur = con.cursor()  # one DuckDB connection per thread
        t0 = time.perf_counter()
        try:
            return compare(QUERIES[q](b.spark, sf_dir), cur, ORACLE[q])
        except Exception as exc:  # noqa: BLE001 - a failed check
            return False, f"{type(exc).__name__}: {exc}"
        finally:
            cur.close()
            check_s[q] = time.perf_counter() - t0

    # warm-up: a one-file backfill beside the untimed correctness pass (the
    # panel on CHECK_THREADS threads), which also warms the JVM for the
    # drain; nothing is timed until both end
    with b.tracer.span("warmup"), ThreadPoolExecutor(1 + CHECK_THREADS) as pool:
        warm = pool.submit(warm_backfill)
        order, check_s = b.rng.sample(panel, len(panel)), {}
        for q, (ok, msg) in zip(order, pool.map(check_query, order)):
            b.check(q, ok, msg)
        warm.result()

    log_dir = os.path.join(ledger, "_dtk_log")
    with b.measuring():
        with b.op("sources.ingest"):
            backfill()
        trickle(time.time())
        n_commits = len(glob.glob(os.path.join(log_dir, "v*.json")))
        with b.op("streaming.drain") as s:
            pipe.run_available_now()
        s["ledger_commits"] = (
            len(glob.glob(os.path.join(log_dir, "v*.json"))) - n_commits)
        t_end = time.perf_counter() + b.seconds
        passes = 0
        while passes == 0 or time.perf_counter() < t_end:
            passes += 1
            for q in b.rng.sample(panel, len(panel)):
                with b.op("plans.query", query=q):
                    QUERIES[q](b.spark, sf_dir).write.format("noop").mode(
                        "overwrite").save()

    # ingest outputs: backfill rows, ledger status per file, trickle rows
    with b.tracer.span("checks"):
        got, ledger_rows, got_rows = _concurrently(
            lambda: b.spark.read.parquet(out_dir).agg(
                F.count(F.lit(1)).alias("n"), F.count("ts").alias("ts")).first(),
            lambda: read_ledger(b.spark, ledger).collect(),
            lambda: b.spark.read.parquet(t_out).count())
    b.check("backfill_rows", got["n"] == BACKFILL_ROWS == got["ts"],
            f"rows={got['n']} non-null ts={got['ts']} generated={BACKFILL_ROWS}")
    status = {os.path.basename(r["s3_object_name"]): r for r in ledger_rows}
    wrong = [n for n, want, _ in plan
             if status.get(n) is None or status[n]["file_status"] != want]
    b.check("ledger_status", not wrong,
            f"{len(wrong)} of {len(plan)} files off route {wrong[:5]}")
    want_rows = sum(n for _, st, n in plan if st == "LOADED")
    b.check("trickle_rows", got_rows == want_rows,
            f"rows={got_rows} routed rows generated={want_rows}")

    latency = [status[n]["updated_at"] - landed[n][0] for n, _, _ in plan
               if n in status and n in landed]
    drains = b.tracer.named("streaming.drain")
    queries = b.durations("plans.query")
    per_query: dict[str, list[float]] = {}
    for s in b.tracer.named("plans.query"):
        per_query.setdefault(s["query"], []).append(s["dur"])
    med = {q: statistics.median(d) for q, d in per_query.items()}
    # each query's median over the passes; the mean weighs every panel
    # query alike
    b.e2e["read_s"] = statistics.mean(med.values()) if med else 0.0
    b.e2e["fresh_s"] = _median(latency)
    b.e2e["bulk_s"] = _median(b.durations("sources.ingest"))
    out_files = glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True)
    b.layer.update({
        "sources.ingest_s": b.e2e["bulk_s"],
        "sources.ingest_mb_s": csv_bytes / 1e6 / b.e2e["bulk_s"],
        "sources.files_out": len(out_files),
        "sources.bytes_out_per_byte_in":
            sum(os.path.getsize(f) for f in out_files) / csv_bytes,
        "streaming.drain_s": _median([s["dur"] for s in drains]),
        "streaming.ledger_commits_per_drain":
            _median([s["ledger_commits"] for s in drains]),
        "streaming.generator_lag_s":
            max((t - due for due, t in landed.values()), default=0.0),
        "streaming.file_loaded_p90_s": _p90(latency),
        "plans.query_p90_s": _p90(queries),
        **{f"plans.{m}_s": sum(v for q, v in med.items() if module[q] == m)
           for m in PLAN_MODULES},
    })
    b.counts.update(rows=rows, panel=panel, query_s=med, check_s=check_s,
                    csv_mb=csv_bytes / 1e6)
    b.jobs_of("sources.ingest", {"jobs": "sources.ingest_jobs",
                                 "tasks": "sources.ingest_tasks"})
    b.jobs_of("streaming.drain", {"jobs": "streaming.drain_jobs"})
    b.jobs_of("plans.query", {
        "jobs": "plans.jobs_per_query", "tasks": "plans.tasks_per_query",
        "driver_gap_share": "plans.driver_gap_share",
        "shuffle_bytes": "plans.shuffle_bytes",
        "spill_bytes": "plans.spill_bytes",
        "peak_mem": "plans.peak_exec_mem_bytes"})


# -- search_plane -----------------------------------------------------------

SP_DOCS = 200
SP_RARE = 8  # extra low-frequency terms beside the 31-word base vocabulary
SP_UPSERTS = 50
SP_DELETES = 5
SP_K = 10
N_LISTS = 4
N_PROBE = 2
QUERY_SCHEMA = "query_id bigint, query_text string"
INDEX_TABLES = {"postings": ("postings", "doc_stats", "corpus_stats",
                             "term_stats"),
                "ivf": ("assignments", "centroids")}


def _manifests(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "_dtk_log", "v*.json")))


def _pending_merges(path: str) -> int:
    m = _manifests(path)
    if not m:
        return 0
    with open(m[-1]) as f:
        return len(json.load(f).get("merges") or [])


def search_plane(b: Bench) -> None:
    """Closed loop, one client: MoR upsert + MoR delete on the source
    LakeTable, one ``sync_search_plane``, then single-query BM25 and
    IVF serves. The traced run then times one compaction cycle."""
    from datalake_toolkit_spark.lakehouse import LakeTable
    from datalake_toolkit_spark.llm import IVFIndex, PostingsIndex, sync_search_plane
    from datalake_toolkit_spark.llm.sync import sync_postings_from_table
    from datalake_toolkit_spark.llm.search import bm25_topk
    from datalake_toolkit_spark.llm.similarity import cosine_topk

    rng = np.random.default_rng(b.seed)
    vocab = datagen.BASE_VOCAB + [f"r{i:03d}" for i in range(SP_RARE)]
    weights = datagen.vocab_weights(vocab, zipf=1.0)
    common, rare = vocab[:10], vocab[-SP_RARE // 2:]
    schema = "doc_id bigint, text string, embedding array<float>"
    paths = {k: os.path.join(b.work, k) for k in ("src", "postings", "ivf")}

    def docs(ids):
        vecs, _ = datagen.embeddings(rng, len(ids))
        return [(int(i), t, v.tolist()) for i, t, v in
                zip(ids, datagen.texts(rng, len(ids), vocab, weights), vecs)]

    with b.tracer.span("setup"):
        b.start_session()
        spark = b.spark
        table = LakeTable(spark, paths["src"])
        first = spark.createDataFrame(docs(range(SP_DOCS)), schema)
        postings = PostingsIndex(spark, paths["postings"], prefix_len=1)
        ivf = IVFIndex(spark, paths["ivf"], id_col="doc_id", vec_col="embedding")
        legs: dict[str, float] = {}

        def lexical() -> None:
            legs["lakehouse.write"] = _wall(table.write, first)
            legs["sync.bootstrap"] = _wall(sync_postings_from_table,
                                           postings, table)

        def vector() -> None:
            legs["ann.build"] = _wall(
                ivf.build, first.select("doc_id", "embedding"),
                n_lists=N_LISTS, lloyd_iters=1, dim=datagen.DIM)

        # the plane comes up at once: the first write and the postings
        # bootstrap from it, beside IVF build() over the same rows
        with b.tracer.span("plane.build") as boot:
            _concurrently(lexical, vector)
        synced = table.current_version()
        b.counts["plane_build_s"] = legs
    b.setup_done()

    live, next_id = set(range(SP_DOCS)), SP_DOCS

    def query_text() -> str:
        return " ".join([*rng.choice(common, 2, replace=False), rng.choice(rare)])

    def table_dirs():
        return {f"{idx}.{t}": os.path.join(paths[idx], t)
                for idx, ts in INDEX_TABLES.items() for t in ts}

    rounds, fresh, served, plane = 0, [], None, None
    t_end = time.perf_counter() + b.seconds
    with b.measuring():
        while rounds == 0 or time.perf_counter() < t_end:
            rounds += 1
            with b.tracer.span("round"):
                n_new = SP_UPSERTS // 10
                ids = sorted(rng.choice(sorted(live), SP_UPSERTS - n_new, replace=False))
                ids += list(range(next_id, next_id + n_new))
                next_id += n_new
                batch = spark.createDataFrame(docs(ids), schema)
                failed, t_write = b.failed, time.perf_counter()
                with b.op("lakehouse.upsert"):
                    table.upsert(batch, keys=["doc_id"], mode="mor")
                live.update(ids)
                gone = sorted(int(i) for i in rng.choice(sorted(live), SP_DELETES,
                                                         replace=False))
                with b.op("lakehouse.delete"):
                    table.delete_where(f"doc_id IN ({', '.join(map(str, gone))})",
                                       mode="mor")
                live.difference_update(gone)
                if b.traced:
                    before = {k: (len(_manifests(p)), _du(p))
                              for k, p in table_dirs().items()}
                with b.op("sync.plane") as s:
                    plane = sync_search_plane(postings, ivf, table,
                                              from_version=synced)
                    synced = plane["table_version"]
                if b.failed == failed:
                    fresh.append(time.perf_counter() - t_write)
                if b.traced:
                    s["commits"] = {k: len(_manifests(p)) - before[k][0]
                                    for k, p in table_dirs().items()}
                    s["bytes"] = sum(_du(p) - before[k][1]
                                     for k, p in table_dirs().items())
                    s["pending_merges"] = sum(
                        _pending_merges(p) for p in [*table_dirs().values(), paths["src"]])
                q_rows = [(0, query_text())]
                qt = spark.createDataFrame(q_rows, QUERY_SCHEMA)
                qv = spark.createDataFrame(
                    [(-1, datagen.embeddings(rng, 1)[0][0].tolist())],
                    "doc_id bigint, embedding array<float>")
                with b.op("search.request"):
                    with b.tracer.span("search.bm25"):
                        hits = postings.search_bm25(qt, k=SP_K, prune="auto").collect()
                    # no write since the sync: the live index is the pin
                    served = (q_rows, hits)
                    with b.tracer.span("ann.search"):
                        ivf.search(qv, k=SP_K, n_probe=N_PROBE).collect()

    # with no successful sync the checks read the state after set-up
    pin = plane["pin"]["vector"] if plane else None
    version = synced
    # traced-only observability passes (reports run real jobs)
    queries = spark.createDataFrame([(i, query_text()) for i in range(3)],
                                    QUERY_SCHEMA)
    qvecs = spark.createDataFrame(
        [(-1 - i, v.tolist()) for i, v in enumerate(datagen.embeddings(rng, 3)[0])],
        "doc_id bigint, embedding array<float>")
    if b.traced:
        rep, probe, recall = _concurrently(
            lambda: postings.bm25_prune_report(queries, k=SP_K).collect(),
            lambda: ivf.probe_report(qvecs, n_probe=N_PROBE).collect(),
            lambda: ivf.recall(qvecs, k=SP_K, n_probe=N_PROBE).collect())
        full = sum(r["rows_full"] for r in rep)
        b.layer["search.pruned_share"] = (
            1 - sum(r["rows_seed"] + r["rows_completed"] for r in rep) / full
            if full else 0.0)
        b.layer["ann.lists_probed_share"] = _median(
            [r["lists_probed"] / r["lists_total"] for r in probe])
        b.layer["ann.recall_at_10"] = _median([r["recall"] for r in recall])
        # the compaction cycle: a run makes one round, so no measured
        # serve would follow it, and its 5-8 s stay out of the
        # untraced runs; the checks below then read the pin through it
        with b.op("lakehouse.maintain"):
            postings.maintain()
            ivf.maintain()
            table.optimize()

    # correctness at the final pin: the last BM25 serve, and a full-probe
    # IVF serve, against exact answers over the pinned table snapshot
    with b.tracer.span("checks"):
        snap = table.read(version=version)
        bm25_exact, ivf_full, cos_exact = _concurrently(
            lambda: [] if served is None else bm25_topk(
                snap.select("doc_id", "text"),
                spark.createDataFrame(served[0], QUERY_SCHEMA), k=SP_K).collect(),
            lambda: ivf.search(qvecs, k=SP_K, n_probe=N_LISTS,
                               at=pin).collect(),
            lambda: cosine_topk(snap.select("doc_id", "embedding")
                                .withColumnRenamed("doc_id", "vec_id"),
                                qvecs.withColumnRenamed("doc_id", "vec_id"),
                                k=SP_K).collect())
    got = {(r["query_id"], r["doc_id"]): (r["rank"], r["score"])
           for r in (served[1] if served is not None else [])}
    want = {(r["query_id"], r["doc_id"]): (r["rank"], r["score"])
            for r in bm25_exact}
    b.check("bm25_at_pin", served is not None and set(got) == set(want) and all(
        got[k][0] == want[k][0] and math.isclose(got[k][1], want[k][1], rel_tol=1e-12)
        for k in want), f"{len(got)} hits vs {len(want)} exact")
    got = {(r["qid"], r["cid"]): (r["rank"], r["cosine"]) for r in ivf_full}
    want = {(r["qid"], r["cid"]): (r["rank"], r["cosine"]) for r in cos_exact}
    b.check("ivf_full_probe", set(got) == set(want) and all(
        got[k][0] == want[k][0] and math.isclose(got[k][1], want[k][1], rel_tol=1e-12)
        for k in want), f"{len(got)} hits vs {len(want)} exact")

    requests = b.durations("search.request")
    syncs = b.tracer.named("sync.plane")
    b.e2e["read_s"] = _median(requests)
    b.e2e["fresh_s"] = _median(fresh)
    b.e2e["bulk_s"] = boot["dur"]
    b.counts.update(rounds=rounds, live_docs=len(live))
    b.layer.update({
        "lakehouse.upsert_s": _median(b.durations("lakehouse.upsert")),
        "lakehouse.delete_s": _median(b.durations("lakehouse.delete")),
        "lakehouse.maintain_s": _median(b.durations("lakehouse.maintain")),
        "lakehouse.bytes_per_sync": _median([s.get("bytes", 0) for s in syncs]),
        "lakehouse.pending_merges": _median(
            [s.get("pending_merges", 0) for s in syncs]),
        "sync.plane_s": _median([s["dur"] for s in syncs]),
        "search.bm25_s": _median(b.durations("search.bm25")),
        "ann.search_s": _median(b.durations("ann.search")),
    })
    for k in table_dirs():
        b.layer[f"lakehouse.commits_per_sync.{k.split('.', 1)[1]}"] = _median(
            [s.get("commits", {}).get(k, 0) for s in syncs])
    b.jobs_of("sync.plane", {"jobs": "sync.jobs", "tasks": "sync.tasks",
                             "driver_gap_share": "sync.driver_gap_share"})
    b.jobs_of("search.bm25", {"jobs": "search.bm25_jobs", "tasks": "search.bm25_tasks",
                              "driver_gap_share": "search.driver_gap_share"})
    b.jobs_of("ann.search", {"jobs": "ann.search_jobs", "tasks": "ann.search_tasks",
                             "driver_gap_share": "ann.driver_gap_share"})


WORKLOADS = {"lake_query_ingest": lake_query_ingest, "search_plane": search_plane}
