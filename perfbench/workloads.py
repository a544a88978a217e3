"""The benchmark's workloads.

``feature_windows`` and ``graph_dedup`` are closed loops: one client runs
the query list once per pass, one query at a time, each pass on a fresh
byte-identical copy of its input at a new path, into Spark's noop sink.
``stream_serve`` is two open loops on one online store: event files land
on a fixed schedule and flow through ``per_event_features`` into
``OnlineStore.merge``, while one-customer ``OnlineStore.lookup`` requests
arrive on another fixed schedule.

Every engine call goes through its public function; spans around those
calls are recorded only when tracing is on.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow.parquet as pq

from inputs import EventShape, split_by_time, write_inputs
from oracle import Oracle, verdict
from procmon import PeakRss, tree_cpu_s
from spans import Tracer, event_log_conf
from stats import file_commit_times

NPROC = len(os.sched_getaffinity(0))
SETUP_REPS = 3
MIN_PASSES = 2


@dataclass(frozen=True)
class BatchWorkload:
    shape: EventShape
    n_docs: int
    queries: tuple[str, ...]


@dataclass(frozen=True)
class StreamWorkload:
    shape: EventShape
    warm_files: int  # the first lands alone; the rest in an untimed warm-up window
    warm_interval_s: float  # landing interval in the warm-up window
    file_interval_s: float
    lookup_rate: float  # requests per second
    lookup_threads: int


BATCH = {
    # one query per operator module the ROADMAP directions change: the
    # hot-pool trailing windows (windows.py carries and memo caches), the
    # driver-paced iterative PageRank (graph.py), and the n-gram Jaccard
    # self-join (dedup.py)
    "offline_features": BatchWorkload(
        shape=EventShape(15_000, hot_share=0.2),
        n_docs=2_000,
        queries=(
            "trailing_multiwindow_features",
            "pagerank_bipartite",
            "dedup_ngram_jaccard",
        ),
    ),
}

STREAM = {
    "stream_serve": StreamWorkload(
        shape=EventShape(20_000, hot_share=0.2),
        warm_files=6,
        warm_interval_s=2.0,
        file_interval_s=3.0,
        lookup_rate=1.0,
        lookup_threads=2,
    ),
}

WORKLOADS = (*BATCH, *STREAM)


@dataclass
class Run:
    """State of one benchmark invocation."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    out_dir: str  # private scratch space of this run
    state_dir: str  # kept across runs: oracle cache, untraced results
    tracer: Tracer = None
    spark: object = None
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    notes: list[str] = field(default_factory=list)
    record: dict = field(default_factory=dict)
    stream_layers: dict = field(default_factory=dict)  # samples per layer
    t0: float = field(default_factory=time.perf_counter)

    def mark(self, name: str) -> None:
        """Note when a phase of the run ended, in seconds since it began."""
        self.record.setdefault("timeline", {})[name] = time.perf_counter() - self.t0

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"failed: {what}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.out_dir, *parts)


# --------------------------------------------------------------------------
# session and set-up


def _session_conf(run: Run, traced: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": run.path("spark-local"),
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.path('tmp')}",
    }
    if traced:
        conf.update(event_log_conf(run.path("eventlog")))
    return conf


def start_session(run: Run, traced: bool):
    from aml_feature_store_spark.session import get_spark

    if run.spark is not None:
        run.spark.stop()
    run.spark = get_spark(
        "perfbench",
        master=f"local[{NPROC}]",
        shuffle_partitions=NPROC,
        extra_conf=_session_conf(run, traced),
    )
    return run.spark


def setup(run: Run, make_inputs) -> None:
    """Set up ``SETUP_REPS`` times: start a fresh Spark session, generate
    the inputs and lay them out. The last repetition's session and inputs
    are the ones the run uses. In a traced run every session writes an
    event log."""
    starts, gens, totals = [], [], []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        start_session(run, run.trace)
        t1 = time.perf_counter()
        shutil.rmtree(run.path("inputs"), ignore_errors=True)
        make_inputs()
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        gens.append(t2 - t1)
        totals.append(t2 - t0)
    run.record["setup"] = {"total_s": totals, "session_s": starts, "generate_s": gens}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------------------
# batch workloads


def _copy_inputs(run: Run, i: int) -> str:
    dst = run.path("passes", f"p{i:03d}")
    shutil.copytree(run.path("inputs"), dst)
    return dst


def _oracle_results(run: Run, sqls: dict[str, str]) -> dict:
    """Oracle result, or the exception it raised, per name."""
    oracle = Oracle(run.path("inputs"), os.path.join(run.state_dir, "oracle"), NPROC)
    out: dict = {}
    try:
        for name, sql in sqls.items():
            try:
                out[name] = oracle.result(sql)
            except Exception as e:  # reported as a failed check, not a crash
                out[name] = e
    finally:
        oracle.close()
    return out


def run_batch(run: Run) -> dict:
    from aml_feature_store_spark import catalog

    wl = BATCH[run.workload]
    fns = catalog.queries()
    sqls = catalog.oracle_sql()
    missing = [q for q in wl.queries if q not in fns or q not in sqls]
    if missing:
        raise SystemExit(f"queries without a registered oracle: {missing}")

    def make_inputs():
        run.record["rows"] = write_inputs(
            run.spark, run.path("inputs"), wl.shape, wl.n_docs, run.seed
        )

    setup(run, make_inputs)
    run.mark("setup")
    spark = run.spark
    sc = spark.sparkContext

    # correctness pass, which also warms the JVM and the Python workers.
    # The DuckDB oracles run after the timed window: beside the warm-up
    # they slowed it and left the JIT less warm for the first timed pass
    src = _copy_inputs(run, 0)

    def collect(q):
        try:
            return fns[q](spark, src).toPandas()
        except Exception as e:  # reported as a failed check, not a crash
            return e

    # untimed, so the queries share the cores: most of a cold pass is
    # driver-side waiting
    with ThreadPoolExecutor(max_workers=max(1, NPROC - 1)) as pool:
        got = dict(zip(wl.queries, pool.map(collect, wl.queries)))
    run.mark("warm")
    passes = _batch_window(run, wl, fns)
    _check_batch(run, wl, sqls, got)
    run.mark("checked")
    return _batch_e2e(run, passes)


def _check_batch(run: Run, wl: BatchWorkload, sqls: dict, got: dict) -> None:
    want = _oracle_results(run, {q: sqls[q] for q in wl.queries})
    checks = {}
    for q in wl.queries:
        if isinstance(got[q], Exception) or isinstance(want[q], Exception):
            err = got[q] if isinstance(got[q], Exception) else want[q]
            checks[q] = {"status": "fail", "issues": [repr(err)[:500]]}
        else:
            status, issues = verdict(got[q], want[q], q)
            checks[q] = {"status": status, "rows": len(got[q]), "issues": issues[:4]}
        ok = checks[q]["status"] != "fail"
        run.correct &= ok
        run.op(ok, f"check {q}")
    run.record["checks"] = checks


def _batch_window(run: Run, wl: BatchWorkload, fns: dict) -> list[dict]:
    spark = run.spark
    sc = spark.sparkContext
    tr = run.tracer
    passes = []
    with PeakRss(os.getpid()) as rss:
        cpu0 = tree_cpu_s(os.getpid())
        t_begin = time.perf_counter()
        with tr.span("run"):
            i = 0
            # at least two passes, so every run reports a median of the same
            # kind; after that a pass starts only if one as long as the last
            # still ends within the window
            while len(passes) < MIN_PASSES or (
                time.perf_counter() - t_begin + passes[-1]["wall_s"] <= run.seconds
            ):
                i += 1
                src = _copy_inputs(run, i)
                per_q = {}
                ok = True
                p0 = time.perf_counter()
                with tr.span(f"pass {i}"):
                    for q in wl.queries:
                        try:
                            per_q[q] = _timed_query(tr, sc, spark, fns[q], src, i, q)
                        except Exception as e:
                            ok = False
                            per_q[q] = {"error": repr(e)[:500]}
                p1 = time.perf_counter()
                run.op(ok, f"pass {i}")
                passes.append({"pass": i, "wall_s": p1 - p0, "queries": per_q})
                shutil.rmtree(src, ignore_errors=True)
        cpu1 = tree_cpu_s(os.getpid())
    run.mark("window")
    run.record["passes"] = passes
    run.record["window"] = {"cpu_s": cpu1 - cpu0, "peak_rss_bytes": rss.peak}
    return passes


def _batch_e2e(run: Run, passes: list[dict]) -> dict:
    window_cpu = run.record["window"]["cpu_s"]
    walls = [p["wall_s"] for p in passes]
    e2e = {
        "pass_s": walls,
        "pass_cpu_s": window_cpu / len(passes),
        # a feature engineer's request is one pass over a freshly landed log
        "freshness_ms": [w * 1000 for w in walls],
        "latency_ms": [w * 1000 for w in walls],
    }
    return e2e


def _timed_query(tr: Tracer, sc, spark, fn, src: str, i: int, q: str) -> dict:
    t = {}
    with tr.span(q):
        a = time.perf_counter()
        with tr.span("build", sc, f"p{i}:{q}:build"):
            df = fn(spark, src)
        b = time.perf_counter()
        with tr.span("plan", sc, f"p{i}:{q}:plan"):
            df._jdf.queryExecution().executedPlan()
        c = time.perf_counter()
        with tr.span("exec", sc, f"p{i}:{q}:exec"):
            df.write.format("noop").mode("overwrite").save()
        d = time.perf_counter()
    t.update(build_s=b - a, plan_s=c - b, exec_s=d - c)
    return t


# --------------------------------------------------------------------------
# stream_serve


class StoreLock:
    """Readers-writer lock between merges (writers) and lookups (readers).

    ``OnlineStore`` assumes one writer and no concurrent reader: every read
    runs its crash recovery, which deletes a merge's in-flight staging
    directory, and a read that lists the table before a merge swaps it
    fails on the vanished files. A serving client must therefore keep
    lookups out while a merge runs. A waiting merge blocks new lookups, so
    a steady lookup stream cannot starve the stream."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._readers = 0
        self._writing = False
        self._writers_waiting = 0

    @contextlib.contextmanager
    def read(self):
        with self._cond:
            while self._writing or self._writers_waiting:
                self._cond.wait()
            self._readers += 1
        try:
            yield
        finally:
            with self._cond:
                self._readers -= 1
                self._cond.notify_all()

    @contextlib.contextmanager
    def write(self):
        with self._cond:
            self._writers_waiting += 1
            while self._writing or self._readers:
                self._cond.wait()
            self._writers_waiting -= 1
            self._writing = True
        try:
            yield
        finally:
            with self._cond:
                self._writing = False
                self._cond.notify_all()


def _land(src_file: str, dst_dir: str, i: int) -> None:
    """Make one file visible to the stream atomically: the file source
    skips names starting with '.', and the rename is atomic."""
    tmp = os.path.join(dst_dir, f".landing-{i:04d}.parquet")
    shutil.copyfile(src_file, tmp)
    os.rename(tmp, os.path.join(dst_dir, f"events-{i:04d}.parquet"))


def run_stream(run: Run) -> dict:
    from pyspark.sql import functions as F

    from aml_feature_store_spark import catalog
    from aml_feature_store_spark.sources.tables import stream_events
    from aml_feature_store_spark.streaming.online_store import OnlineStore
    from aml_feature_store_spark.streaming.per_event import per_event_features

    wl = STREAM[run.workload]
    n_timed = max(1, round(run.seconds / wl.file_interval_s))
    n_files = wl.warm_files + n_timed

    def make_inputs():
        run.record["rows"] = write_inputs(run.spark, run.path("inputs"), wl.shape, 0, run.seed)
        split_by_time(run.path("inputs", "events.parquet"), run.path("inputs", "files"), n_files)

    setup(run, make_inputs)
    run.mark("setup")
    spark = run.spark
    sc = spark.sparkContext
    tr = run.tracer
    files = sorted(
        os.path.join(run.path("inputs", "files"), f)
        for f in os.listdir(run.path("inputs", "files"))
    )
    file_rows = [pq.ParquetFile(f).metadata.num_rows for f in files]
    file_bytes = [os.path.getsize(f) for f in files]

    src = run.path("stream-src")
    os.makedirs(src)
    _land(files[0], src, 0)
    store = OnlineStore(spark, run.path("online-store"), "user_id", "feature_ts")
    commits: dict[int, float] = {}
    merges: list[dict] = []

    store_lock = StoreLock()

    def merge_batch(batch_df, epoch_id: int) -> None:
        # compute the micro-batch's features first, so the store is locked
        # against lookups only while merge rewrites it
        with tr.span(f"features {epoch_id}", sc, f"features:{epoch_id}"):
            c0 = time.perf_counter()
            feats = batch_df.withColumn("feature_ts", F.timestamp_millis("ts_ms")).persist()
            feats.count()
        w0 = time.perf_counter()
        try:
            with store_lock.write(), tr.span(f"merge {epoch_id}", sc, f"merge:{epoch_id}"):
                t0 = time.perf_counter()
                store.merge(feats)
                t1 = time.perf_counter()
        finally:
            feats.unpersist()
        merges.append(
            {"epoch": epoch_id, "features": w0 - c0, "wait": t0 - w0, "start": t0, "end": t1}
        )
        commits[epoch_id] = t1

    # one file per micro-batch, landing slower than a batch takes: the
    # stream runs below capacity, so a batch's work does not depend on how
    # many files piled up while the previous one ran
    feats = per_event_features(stream_events(spark, src, max_files_per_trigger=1))
    query = (
        feats.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", run.path("checkpoint"))
        .start()
    )
    query.processAllAvailable()

    # customers drawn from the event key distribution, hot pool included
    rng = random.Random(run.seed)
    users = pq.read_table(run.path("inputs", "events.parquet"), columns=["user_id"])
    users = users.column("user_id").to_numpy()
    n_warm_lookups = round(wl.lookup_rate * (wl.warm_files - 1) * wl.warm_interval_s)
    n_lookups = max(1, round(wl.lookup_rate * run.seconds))
    lookup_ids = [
        int(users[rng.randrange(len(users))]) for _ in range(n_warm_lookups + n_lookups)
    ]

    def lookup(uid: int, tag: str, rec: dict) -> int:
        with store_lock.read():
            rec["served"] = time.perf_counter()
            with tr.span("lookup", sc, tag):
                rows = store.lookup([uid]).collect()
        if len(rows) > 1 or any(r["user_id"] != uid for r in rows):
            raise AssertionError(f"lookup({uid}) returned {len(rows)} rows")
        return len(rows)

    def open_loops(
        t_begin: float, interval_s: float, file_idx: list[int], req_idx: list[int], tag: str
    ):
        """Land ``file_idx`` every ``interval_s`` and send lookups
        ``req_idx`` at lookup_rate from ``t_begin``; wait until every landed
        file is in the store. Returns landing times and lookup records."""
        landed: list[float] = []
        lookups: list[dict] = []
        lock = threading.Lock()
        pending = iter(enumerate(req_idx))

        def lander() -> None:
            for k, fi in enumerate(file_idx):
                due = t_begin + k * interval_s
                time.sleep(max(0.0, due - time.perf_counter()))
                _land(files[fi], src, fi)
                landed.append(time.perf_counter())

        def sender() -> None:
            while True:
                with lock:
                    k, j = next(pending, (None, None))
                if j is None:
                    return
                due = t_begin + k / wl.lookup_rate
                time.sleep(max(0.0, due - time.perf_counter()))
                rec = {"due": due, "start": time.perf_counter()}
                try:
                    rec["rows"] = lookup(lookup_ids[j], f"{tag}:{j}", rec)
                except Exception as e:
                    rec["error"] = repr(e)[:300]
                rec["end"] = time.perf_counter()
                with lock:
                    lookups.append(rec)

        threads = [threading.Thread(target=lander, name="lander")] + [
            threading.Thread(target=sender, name=f"lookup-{t}")
            for t in range(wl.lookup_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        # drain: every landed file reaches the store
        want_rows = sum(file_rows[: max(file_idx) + 1])
        deadline = time.perf_counter() + 30
        while time.perf_counter() < deadline:
            prog = query.recentProgress
            done = sum(p["numInputRows"] for p in prog if p["batchId"] in commits)
            if done >= want_rows:
                break
            time.sleep(0.05)
        return landed, lookups

    # the first batches and lookups run cold, and for several files after
    # the first they keep getting faster: warm both loops untimed, with
    # files landing at about the stream's capacity
    open_loops(
        time.perf_counter(), wl.warm_interval_s, list(range(1, wl.warm_files)),
        list(range(n_warm_lookups)), "warm-lookup",
    )
    warm_batches = {p["batchId"] for p in query.recentProgress}

    run.mark("warm")
    t_begin = time.perf_counter() + 0.2
    wall_offset = time.time() - time.perf_counter()
    with PeakRss(os.getpid()) as rss:
        cpu0 = tree_cpu_s(os.getpid())
        with tr.span("run"):
            landed, lookups = open_loops(
                t_begin, wl.file_interval_s,
                list(range(wl.warm_files, n_files)),
                list(range(n_warm_lookups, n_warm_lookups + n_lookups)),
                "lookup",
            )
        cpu1 = tree_cpu_s(os.getpid())
    t_end = time.perf_counter()
    run.mark("window")
    progress = [p for p in query.recentProgress]
    query.stop()
    want = _oracle_results(
        run, {"per_event": catalog.oracle_sql()["streaming_per_event_features"]}
    )

    timed = [p for p in progress if p["batchId"] not in warm_batches and p["numInputRows"] > 0]
    ordered = sorted((p for p in progress if p["batchId"] in commits), key=lambda p: p["batchId"])
    batch_of_file = file_commit_times(file_rows, [(p["numInputRows"], p["batchId"]) for p in ordered])
    committed = [None if b is None else commits[b] for b in batch_of_file]
    starts_by_batch = {
        p["batchId"]: _iso_to_perf(p["timestamp"], wall_offset) for p in progress
    }
    freshness, queue = [], []
    for k in range(n_timed):
        fi = wl.warm_files + k
        due = t_begin + k * wl.file_interval_s
        ok = committed[fi] is not None
        run.op(ok, f"file {fi} never committed")
        if ok:
            freshness.append((committed[fi] - due) * 1000)
            b = batch_of_file[fi]
            queue.append((starts_by_batch[b] - landed[k]) * 1000)
    for rec in lookups:
        run.op("error" not in rec, f"lookup: {rec.get('error')}")

    # end state: each user's latest oracle row, ordered by (ts_ms, event_id)
    check = _check_store(run, store, want.get("per_event"))
    run.record["end_state"] = check
    run.mark("checked")

    lat = [(r["end"] - r["due"]) * 1000 for r in lookups if "error" not in r]
    svc = [(r["end"] - r["served"]) * 1000 for r in lookups if "error" not in r]
    late = [(t - (t_begin + k * wl.file_interval_s)) * 1000 for k, t in enumerate(landed)]
    late += [(r["start"] - r["due"]) * 1000 for r in lookups]
    n_passes = max(1, len(timed))
    run.record["stream"] = {
        "batches": [
            {k: p.get(k) for k in ("batchId", "numInputRows", "durationMs", "timestamp", "stateOperators")}
            for p in progress
        ],
        "merges": merges,
        "lookups": lookups,
        "landed": landed,
        "file_rows": file_rows,
        "window_s": t_end - t_begin,
    }
    run.record["window"] = {"cpu_s": cpu1 - cpu0, "peak_rss_bytes": rss.peak}
    run.stream_layers = {
        "queue_ms": queue,
        "batch_ms": [p["durationMs"].get("triggerExecution", 0) for p in timed],
        "state": [p["stateOperators"][0] for p in timed if p.get("stateOperators")],
        "backlog_files": _max_backlog(landed, [committed[wl.warm_files + k] for k in range(n_timed)]),
        "merge_ms": [(m["end"] - m["start"]) * 1000 for m in merges if m["epoch"] not in warm_batches],
        "merge_epochs": [m["epoch"] for m in merges if m["epoch"] not in warm_batches],
        "timed_file_bytes": sum(file_bytes[wl.warm_files:]),
        "lookup_ms": svc,
        "lookup_tags": [f"lookup:{j}" for j in range(n_warm_lookups, n_warm_lookups + n_lookups)],
        "gen_late_ms": max(late) if late else 0.0,
    }
    return {
        "pass_s": [p["durationMs"].get("triggerExecution", 0) / 1000 for p in timed],
        "pass_cpu_s": (cpu1 - cpu0) / n_passes,
        "freshness_ms": freshness,
        "latency_ms": lat,
    }


def _iso_to_perf(ts: str, wall_offset: float) -> float:
    """A progress report's ISO wall-clock timestamp on the perf_counter clock."""
    wall = datetime.strptime(ts.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
    return wall - wall_offset


def _max_backlog(landed: list[float], committed: list[float | None]) -> int:
    """Most files landed but not yet in the store at any landing moment."""
    worst = 0
    for t in landed:
        waiting = sum(
            1 for lt, ct in zip(landed, committed) if lt <= t and (ct is None or ct > t)
        )
        worst = max(worst, waiting)
    return worst


def _check_store(run: Run, store, oracle_df) -> dict:
    if isinstance(oracle_df, Exception) or oracle_df is None:
        run.correct = False
        run.op(False, f"end-state oracle: {oracle_df!r}"[:300])
        return {"status": "fail", "issues": [repr(oracle_df)[:300]]}
    feats = [c for c in oracle_df.columns if c not in ("user_id", "event_id", "ts_ms")]
    got = store.read(ttl_s=10**9).toPandas()
    o = oracle_df.sort_values(["user_id", "ts_ms", "event_id"], kind="mergesort")
    latest = o.groupby("user_id", sort=False).tail(1)
    # users whose latest millisecond holds more than one event: the store
    # orders by feature_ts only, so which of them it keeps is not determined
    last_ms = latest.set_index("user_id")["ts_ms"]
    at_last = o[o["ts_ms"].to_numpy() == last_ms.reindex(o["user_id"]).to_numpy()]
    tied_users = set(at_last.groupby("user_id").size().loc[lambda s: s > 1].index)
    cols = ["user_id", "event_id", "ts_ms", *feats]
    status, issues = verdict(got[cols], latest[cols].reset_index(drop=True), "end_state")
    mismatched_tied = 0
    if status == "fail" and tied_users and len(got) == len(latest):
        m = got[cols].merge(latest[cols], on="user_id", suffixes=("", "_want"))
        bad = m[m["event_id"] != m["event_id_want"]]["user_id"]
        mismatched_tied = int(bad.isin(tied_users).sum())
    ok = status != "fail"
    run.correct &= ok
    run.op(ok, "end state")
    return {
        "status": status,
        "rows": len(got),
        "issues": issues[:4],
        "tied_users": len(tied_users),
        "mismatched_tied_users": mismatched_tied,
    }


# --------------------------------------------------------------------------
# traced-run layer metrics


def batch_layers(run: Run, groups: dict) -> dict[str, float]:
    wl = BATCH[run.workload]
    passes = [p for p in run.record["passes"] if all("error" not in v for v in p["queries"].values())]

    def g(i, q, phase):
        return groups.get(f"p{i}:{q}:{phase}")

    def per_pass(fn):
        return _median([fn(p) for p in passes])

    def qsum(p, phase, attr):
        return sum(getattr(g(p["pass"], q, phase), attr, 0) or 0 for q in wl.queries)

    out = {
        "queries.build_s": per_pass(lambda p: sum(v["build_s"] for v in p["queries"].values())),
        "queries.build_jobs": per_pass(lambda p: qsum(p, "build", "jobs")),
        "catalyst.plan_s": per_pass(lambda p: sum(v["plan_s"] for v in p["queries"].values())),
        "exec.s": per_pass(lambda p: sum(v["exec_s"] for v in p["queries"].values())),
    }
    for attr in ("jobs", "stages", "task_cpu_s", "gc_s", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes"):
        out[f"exec.{attr}"] = per_pass(lambda p, a=attr: qsum(p, "exec", a))
    for q in wl.queries:
        out[f"q.{q}.build_s"] = per_pass(lambda p: p["queries"][q]["build_s"])
        out[f"q.{q}.build_jobs"] = per_pass(lambda p: getattr(g(p["pass"], q, "build"), "jobs", 0))
        out[f"q.{q}.exec_s"] = per_pass(lambda p: p["queries"][q]["exec_s"])
        out[f"q.{q}.shuffle_bytes"] = per_pass(
            lambda p: sum(
                getattr(g(p["pass"], q, ph), "shuffle_write_bytes", 0)
                for ph in ("build", "plan", "exec")
            )
        )
    return out


def stream_layers(run: Run, groups: dict) -> dict[str, float]:
    s = run.stream_layers
    state = s["state"]
    merge_groups = [groups.get(f"merge:{e}") for e in s["merge_epochs"]]
    lookup_groups = [groups.get(tag) for tag in s["lookup_tags"]]
    written = sum(getattr(x, "output_bytes", 0) for x in merge_groups)
    return {
        "stream.queue_ms": _median(s["queue_ms"]),
        "stream.batch_ms": _median(s["batch_ms"]),
        "stream.state_update_ms": _median([x.get("allUpdatesTimeMs", 0) for x in state]),
        "stream.state_commit_ms": _median([x.get("commitTimeMs", 0) for x in state]),
        "stream.state_rows": state[-1].get("numRowsTotal", 0) if state else 0,
        "stream.state_bytes": state[-1].get("memoryUsedBytes", 0) if state else 0,
        "stream.backlog_files": s["backlog_files"],
        "online_store.merge_ms": _median(s["merge_ms"]),
        "online_store.merge_jobs": _median([getattr(x, "jobs", 0) for x in merge_groups]),
        "online_store.write_amp": written / s["timed_file_bytes"] if s["timed_file_bytes"] else 0.0,
        "online_store.lookup_ms": _median(s["lookup_ms"]),
        "online_store.lookup_jobs": _median([getattr(x, "jobs", 0) for x in lookup_groups]),
        "bench.gen_late_ms": s["gen_late_ms"],
    }


