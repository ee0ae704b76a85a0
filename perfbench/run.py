"""The repository benchmark: one command, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. A run makes its inputs from the seed,
then drives the package's public functions from this one process:

  api        closed loop, one client, PipelineService.authorized_call,
             in fixed-mix rounds for at least ``--seconds``
  sync       landing batches through streaming.sync, each read back by
             id through a PipelineService over the sync target
  dedup      (traced run only) document stream through
             streaming.dedup_index, then sources.corpus_export
  analytics  (traced run only) registry builders

Every answer is checked afterwards with DuckDB on the same parquet; a
wrong answer counts as a failed operation. ``--trace 1`` wraps the
layers' public functions in spans, turns Spark's event log on through
submit-time conf and reports per-layer metrics instead of end-to-end
ones. See perfbench/README.md for workloads and the metric map.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from datetime import datetime, timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from rss import Cpu, TreeRssSampler, descendants, tree_cpu_s, tree_rss_mb, wait_jit_idle  # noqa: E402
from spans import Recorder, attribute, read_event_log, under  # noqa: E402

WORKLOADS = {
    # Zipf-hot ids, one deep page in three; back-dated corrections
    # confined to two old days; many near-copies
    "hot_recent": gen.Knobs(zipf_s=1.1, deep_share=0.2, backdate_days=2, near_copy_share=0.3),
    # uniform ids, two deep pages in three; back-dated corrections
    # spread over eight old days; few near-copies
    "cold_spread": gen.Knobs(zipf_s=0.0, deep_share=0.6, backdate_days=8, near_copy_share=0.05),
}
SETUPS = 3  # session set-ups per run; setup_s is their median
TIMED_ROUNDS = 3  # timed API rounds api_cpu_ms is taken from
PROBE_LONGS = 3_000_000  # longs the host-speed probe sorts
# about the probe's CPU seconds on a quiet 4-vCPU host: the CPU figures
# are scaled to the host speed at which the probe takes this long
PROBE_REF_S = 0.3
EXPORT_TOKENS = 2_000
ANALYTICS = (
    "ingest_upsert",
    "cdc_merge",
    "athlete_weekly_summary",
    "user_activity_join",
    "events_sessionize",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q18_large_orders",
)
# the gated figures: CPU time without the JIT compiler's and the garbage
# collector's share and live heap, which a busy shared host moves far
# less than wall time, and the session set-up time
E2E = {
    "setup_s": "s",
    "api_cpu_ms": "ms",
    "sync_cpu_s": "s",
    "serve_heap_mb": "MB",
}
# printed by every run, not gated: wall-clock figures, resident memory
# and the read-back probes' CPU (six samples a run)
INFO = {
    "api_p50_ms": "ms",
    "api_p90_ms": "ms",
    "api_rps": "1/s",
    "sync_freshness_p50_s": "s",
    "sync_rows_per_s": "1/s",
    "sync_read_p50_ms": "ms",
    "sync_read_cpu_ms": "ms",
    "serve_rss_mb": "MB",
    "peak_rss_mb": "MB",
    "cold_start_s": "s",
    "api_cpu_raw_ms": "ms",
    "sync_cpu_raw_s": "s",
    "probe_cpu_s": "s",
}
OVERHEAD = ("api_cpu_ms", "sync_cpu_s", "api_p50_ms", "sync_freshness_p50_s")


def sizes(sf: float) -> gen.Sizes:
    return gen.Sizes(
        sf=sf,
        # one warm-up batch, then five timed ones
        sync_batches=6,
        sync_rows=max(int(16_250 * sf), 20),
        # residues 0 and 1 of the registry's 4-level dedup_index_audit
        # replay; its levels 2 and 3 stay empty
        doc_batches=2,
        docs_per_batch=max(int(2_000 * sf), 20),
        rounds=8,
    )


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, -(-len(s) * q // 100) - 1))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def changed_files(before: dict, after: dict) -> dict[str, tuple[int, int]]:
    return {p: v for p, v in after.items() if before.get(p) != v and not p.endswith(".crc")}


def _warm(x):
    return x


def host_steal() -> tuple[int, int]:
    """(total, steal) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.sf = args.sf
        self.size = sizes(args.sf)
        self.knobs = WORKLOADS[args.workload]
        self.rec = Recorder(enabled=bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.fail_notes: list[str] = []
        # DuckDB checks run after the Spark work, outside the RSS window
        self.deferred: list[tuple[str, object]] = []
        # request ids of the timed, accepted API requests: the per-layer
        # api figures describe these and no warm-up or refused request
        self.timed_ok: set[int] = set()
        self.setups: list[float] = []
        self.probes: list[float] = []
        self.get_spark_s: list[float] = []
        self.trigger_s: dict[str, list[float]] = {}
        self.phase_s: dict[str, float] = {}
        self.m: dict[str, float] = {}
        self.spark = None
        self.phase = ""

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.fail_notes) < 20:
                self.fail_notes.append(what)

    def check_later(self, what: str, fn) -> None:
        self.deferred.append((what, fn))

    def run_checks(self) -> None:
        for what, fn in self.deferred:
            self.op(bool(fn()), what)

    # -- session ---------------------------------------------------------------
    def setup(self) -> None:
        """Session start plus warm-up: the JVM (first call only), the
        SparkContext, one SQL job and one Python-worker task per core."""
        from strava_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        with self.rec.span("session.get_spark"):
            spark = get_spark("perfbench")
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        spark.range(1000).selectExpr("sum(id)").collect()
        spark.sparkContext.parallelize(range(cpus), cpus).map(_warm).count()
        self.spark = spark
        self.setups.append(time.perf_counter() - t0)
        self.get_spark_s.append(t1 - t0)

    def teardown(self) -> None:
        """Stop the session and the JVM, and wait for every process this
        one started (the JVM forks the Python worker daemon)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while len(descendants(os.getpid())) > 1 and time.time() < deadline:
            time.sleep(0.05)
        for pid in descendants(os.getpid())[1:]:
            try:
                os.kill(pid, 9)
                os.waitpid(pid, 0)
            except OSError:
                pass

    @contextmanager
    def phase_span(self, name: str):
        self.phase = name
        t0 = time.perf_counter()
        with self.rec.span(f"phase.{name}"):
            yield
        self.phase_s[name] = self.phase_s.get(name, 0.0) + time.perf_counter() - t0

    # -- inputs ------------------------------------------------------------------
    def make_inputs(self) -> None:
        t0 = time.perf_counter()
        seed = self.args.seed
        self.base = os.path.join(self.work, "base")
        self.events = gen.make_events(seed, self.size.events)
        gen.write_base(seed, self.sf, self.base, self.events)
        self.n_cust = max(int(150_000 * self.sf), 50)
        self.rounds = gen.make_requests(seed, self.events, self.n_cust, self.size.rounds, self.knobs)
        self.sync_batches = gen.make_sync_batches(seed, self.events, self.size.sync_batches, self.size.sync_rows, self.knobs)
        self.doc_batches = gen.make_doc_batches(seed, self.size.doc_batches, self.size.docs_per_batch, self.knobs.near_copy_share)
        self.gen_s = time.perf_counter() - t0

    # -- phase: api --------------------------------------------------------------
    def run_api(self, budget_s: float):
        """Generator: warms up, yields, then runs the timed rounds."""
        import strava_data_pipeline_spark.api.service as service_mod
        from strava_data_pipeline_spark.api.service import PipelineService

        svc = PipelineService(self.spark, self.base)
        keys = [svc.create_api_key(f"client-{i}", user_id=i, key=f"pk-{self.args.seed}-{i:04d}-live") for i in range(8)]
        tokens = ["Bearer " + svc.generate_jwt(i) for i in range(8)]
        bad = [
            "pk-unknown-key",
            "Bearer " + svc.generate_jwt(3)[:-4] + "beef",
            "Bearer " + svc.generate_jwt(5, now=datetime.utcnow() - timedelta(hours=3)),
        ]
        rec = self.rec
        pid = os.getpid()
        rec.wrap(service_mod, "load_table", "sources.catalog.load_table")
        rec.wrap(service_mod, "page_offset", "operators.pagination.page_offset")
        rec.wrap(service_mod, "page_keyset", "operators.pagination.page_keyset")

        def endpoint(req):
            op = req["op"]
            if op == "get_activity":
                return lambda: svc.get_activity(req["id"])
            if op in ("list_offset", "list_deep"):
                return lambda: svc.list_activities(req["limit"], req["offset"])
            if op == "list_keyset":
                ts = datetime(1970, 1, 1) + timedelta(microseconds=req["cursor_us"])
                return lambda: svc.list_activities_after(ts, req["cursor_id"], req["limit"])
            if op == "user_lookup" and req["by"] == "username":
                return lambda: svc.get_user_by_username(f"Customer#{req['user_id']:09d}")
            if op == "user_lookup":
                return lambda: svc.get_user_by_athlete_id(req["user_id"] + 10**7)
            return lambda: svc.sync_window(req["days"])

        results: list[tuple[dict, list]] = []
        waited: list[float] = []

        def one(i: int, req: dict) -> tuple[float, Cpu] | None:
            """Serve one request; its wall seconds and the process tree's
            CPU time when it was accepted, None when refused."""
            call = endpoint(req)

            def fn(_uid):
                with rec.span("api.build"):
                    return call()

            cred = {"bad": lambda: bad[req.get("bad_form", 0)], "jwt": lambda: tokens[req["slot"]]}.get(
                req["cred"], lambda: keys[req["slot"]]
            )()
            rec.request_id = i
            c0 = tree_cpu_s(pid)
            t0 = time.perf_counter()
            try:
                with rec.span("api.request", op=req["op"]):
                    with rec.span("api.authorized_call"):
                        df = svc.authorized_call(cred, fn)
                    with rec.span("api.exec"):
                        rows = df.collect()
            except PermissionError:
                self.op(req["cred"] == "bad", f"refused a valid credential on {req['op']}")
                return None
            finally:
                rec.request_id = None
            dt = time.perf_counter() - t0
            c1 = tree_cpu_s(pid)
            self.op(req["cred"] != "bad", f"accepted a bad credential on {req['op']}")
            results.append((req, rows))
            if i >= 0:
                self.timed_ok.add(i)
            return dt, c1 - c0

        # warm-up, untimed but checked: the whole first round, so first-use
        # costs and much of the JIT compiler's work fall outside the timed
        # rounds
        for n, req in enumerate(self.rounds[0]):
            one(-1 - n, req)
        yield
        wall: dict[str, list[float]] = {}
        cpu: dict[str, list[Cpu]] = {}
        t_start = time.perf_counter()
        n = 0
        for r, reqs in enumerate(self.rounds[1:]):
            # whole rounds only, so every op kind has samples
            if r >= TIMED_ROUNDS and time.perf_counter() - t_start >= budget_s:
                break
            # a timed round starts once the JIT compiler has caught up
            # with the requests before it: on a loaded host it lags, and
            # code it has not compiled yet costs more CPU
            waited.append(wait_jit_idle(pid, limit_s=1.0))
            self.speed_probe()
            for req in reqs:
                got = one(n, req)
                n += 1
                if got is not None:
                    wall.setdefault(req["op"], []).append(got[0])
                    # CPU from the first TIMED_ROUNDS rounds only, the same
                    # work in every run: later rounds run warmer and
                    # cheaper, so counting them would make the figure
                    # follow how many rounds the host found time for
                    if r < TIMED_ROUNDS:
                        cpu.setdefault(req["op"], []).append(got[1])
        elapsed = time.perf_counter() - t_start
        self.m["serve_rss_mb"] = tree_rss_mb(pid)

        def check() -> bool:
            from checks import ApiOracle

            oracle = ApiOracle(self.base)
            bad_reqs = [req for req, rows in results if not oracle.matches(req, rows)]
            self.fail_notes.extend(f"api answer differs: {req}" for req in bad_reqs[:5])
            return not bad_reqs

        self.check_later("api answers match DuckDB", check)
        # every op kind weighs the same: the mean of the per-kind means, so
        # the round's assumed mix sets no weights. Means, not medians: a
        # kind has three to nine samples, and every sample counting made
        # the figure steadier from run to run than a median of so few
        for key, part in (("api_cpu_ms", "work"), ("api.jit_cpu_ms", "jit"), ("api.gc_cpu_ms", "gc")):
            self.m[key] = statistics.fmean(statistics.fmean(getattr(c, part) for c in cs) for cs in cpu.values()) * 1e3
        all_lat = [t for ts in wall.values() for t in ts]
        self.m["api_p50_ms"] = median(all_lat) * 1e3
        self.m["api_p90_ms"] = pct(all_lat, 90) * 1e3
        self.m["api_rps"] = len(all_lat) / (elapsed - sum(waited))
        self.m["api_requests"] = len(all_lat)

    # -- phase: sync -------------------------------------------------------------
    def run_sync(self):
        """Generator: lands the first batch, yields, then the rest."""
        import pyarrow.parquet as pq

        import strava_data_pipeline_spark.streaming.sync as sync_mod
        from strava_data_pipeline_spark.api.service import PipelineService

        root = os.path.join(self.work, "sync")
        target = os.path.join(root, "events.parquet")
        landing = os.path.join(root, "landing")
        ckpt = os.path.join(root, "ckpt")
        os.makedirs(landing)
        # the target starts as the base events, day-partitioned the way
        # the sync sink lays it out
        base = gen.events_table({k: v for k, v in self.events.items() if k != "props"}, utc=True)
        day = self.events["ts"] // 86_400_000_000
        for d in sorted(set(day.tolist())):
            pdir = os.path.join(target, f"p_day={(gen.EPOCH + timedelta(days=d)).date().isoformat()}")
            os.makedirs(pdir)
            pq.write_table(base.filter(day == d), os.path.join(pdir, "part-00000.parquet"))
        self.rec.wrap(sync_mod, "merge_latest_wins", "operators.upsert.merge_latest_wins")
        svc = PipelineService(self.spark, root)
        landed, fresh, reads, trig, cpu, read_cpu = [], [], [], [], [], []
        rows_landed = bytes_landed = bytes_written = parts_touched = 0
        pid = os.getpid()
        for b, batch in enumerate(self.sync_batches):
            if b:
                wait_jit_idle(pid, limit_s=1.0)
                self.speed_probe()
            before = dir_files(target)
            path = os.path.join(landing, f"batch-{b:03d}.parquet")
            t_land = time.perf_counter()
            pq.write_table(gen.events_table(batch, utc=True), path)
            landed.append(path)
            c0 = tree_cpu_s(pid)
            t0 = time.perf_counter()
            with self.rec.span("streaming.sync.run"):
                sync_mod.start_incremental_sync(sync_mod.read_event_stream(self.spark, landing), target, ckpt).awaitTermination()
            trig.append(time.perf_counter() - t0)
            cpu.append(tree_cpu_s(pid) - c0)
            # probe a new activity or, every other batch, a back-dated
            # correction (the batch's last row)
            j = len(batch["event_id"]) - 1 if b % 2 else 0
            c2 = tree_cpu_s(pid)
            t1 = time.perf_counter()
            with self.rec.span("api.request", op="sync_read"):
                rows = svc.get_activity(int(batch["event_id"][j])).collect()
            reads.append(time.perf_counter() - t1)
            read_cpu.append((tree_cpu_s(pid) - c2).work)
            ok = len(rows) == 1 and rows[0]["value"] == batch["value"][j] and rows[0]["event_type"] == batch["event_type"][j]
            self.op(ok, f"sync probe: batch {b} id {batch['event_id'][j]} not readable as written")
            fresh.append(time.perf_counter() - t_land)
            rows_landed += len(batch["event_id"])
            bytes_landed += os.path.getsize(path)
            changed = changed_files(before, dir_files(target))
            bytes_written += sum(s for s, _ in changed.values())
            parts_touched += len({os.path.dirname(p) for p in changed})
            if b == 0:
                yield
        # the first batch pays the streaming path's first-use costs (about
        # twice the CPU of a later one), so it is the sync warm-up. The
        # timed batches differ in cost in the same way in every run, so
        # their mean, not their median, is the figure: all of them count
        self.m["sync_cpu_s"] = statistics.fmean(c.work for c in cpu[1:])
        self.m["streaming.sync.jit_cpu_s"] = statistics.fmean(c.jit for c in cpu[1:])
        self.m["streaming.sync.gc_cpu_s"] = statistics.fmean(c.gc for c in cpu[1:])
        self.m["sync_read_cpu_ms"] = median(read_cpu) * 1e3

        def check() -> bool:
            from checks import sync_target_matches

            return sync_target_matches(self.base, landed, target)

        self.check_later("sync target equals a latest-wins merge of every batch", check)
        self.m["sync_freshness_p50_s"] = median(fresh)
        self.m["sync_rows_per_s"] = rows_landed / sum(trig)
        self.m["sync_read_p50_ms"] = median(reads) * 1e3
        self.m["streaming.sync.run_s"] = median(trig)
        self.m["streaming.sync.partitions_touched"] = parts_touched
        self.m["streaming.sync.target_files"] = sum(1 for p in dir_files(target) if p.endswith(".parquet"))
        self.m["sources.write_amp"] = bytes_written / bytes_landed

    def speed_probe(self) -> None:
        """Time a fixed JDK sort in the session's JVM: CPU seconds of the
        sorting thread alone, kept in ``self.probes``. The sort is the
        same work in every run and no code of the package runs in it,
        so its time follows only how fast the host runs the JVM at that
        moment."""
        jvm = self.spark._jvm
        arr = jvm.java.util.Random(42).longs(PROBE_LONGS).toArray()
        # py4j runs calls from one Python thread on one JVM thread, so the
        # three calls below share that thread's CPU clock
        mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        t0 = mx.getCurrentThreadCpuTime()
        jvm.java.util.Arrays.sort(arr)
        self.probes.append((mx.getCurrentThreadCpuTime() - t0) / 1e9)
        self.spark.sparkContext._gateway.detach(arr)

    def live_heap_mb(self) -> float:
        """What the session keeps live: the JVM heap in use after full
        collections, far steadier than RSS, which follows how far the
        collector chose to grow the heap. Memory the program no longer
        references comes free in steps: Python's cycle collector drops
        the py4j handles, a JVM collection then finds the Datasets behind
        them unreachable, and Spark's context cleaner removes their
        broadcast and shuffle blocks, which the next collection frees.
        Hence the heap is collected at least four times, until two
        readings agree, and the lowest reading counts; a single reading
        varied by 20 MB between runs, and stopping at the first two that
        agreed still read 11 MB high in one run in six."""
        gc.collect()
        jvm = self.spark._jvm
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used: list[float] = []
        while len(used) < 10:
            jvm.java.lang.System.gc()
            used.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
            if len(used) >= 4 and abs(used[-1] - used[-2]) < 0.5:
                break
            time.sleep(0.5)
        return min(used)

    # -- phase: dedup + export (traced run) ---------------------------------------
    def run_dedup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        import strava_data_pipeline_spark.streaming.dedup_index as di
        from strava_data_pipeline_spark.plans.registry import all_oracles
        from strava_data_pipeline_spark.sources.corpus_export import export_corpus_shards
        from strava_data_pipeline_spark.sources.versioned import read_snapshot

        root = os.path.join(self.work, "dedup")
        landing, index_root, kept_dir, ckpt, export_root = (
            os.path.join(root, d) for d in ("landing", "index", "kept", "ckpt", "export")
        )
        os.makedirs(landing)
        n_docs = 0
        for k, b in enumerate(self.doc_batches):
            path = os.path.join(landing, f"docs-{k:03d}.parquet")
            pq.write_table(pa.table({"doc_id": pa.array(b["doc_id"]), "text": pa.array(b["text"])}), path)
            os.utime(path, (1_000_000 + k, 1_000_000 + k))  # the file source orders by mtime
            n_docs += len(b["doc_id"])
        rec = self.rec
        rec.wrap(di, "minhash_signatures", "operators.dedup.minhash_signatures")
        rec.wrap(di, "minhash_incremental_pairs", "operators.dedup.minhash_incremental_pairs")
        rec.wrap(di, "commit_snapshot", "sources.versioned.commit_snapshot")
        t0 = time.perf_counter()
        with rec.span("streaming.dedup_index.run"):
            di.start_minhash_dedup_sink(di.read_doc_stream(self.spark, landing), index_root, kept_dir, ckpt).awaitTermination()
        stream_s = time.perf_counter() - t0
        rec.unwrap_all()

        kept = di.read_kept_docs(self.spark, kept_dir).select(
            "doc_id",
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint").alias("h"),
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
            "text",
        )
        t1 = time.perf_counter()
        with rec.span("sources.corpus_export.export"):
            _, wrote = export_corpus_shards(kept, export_root, EXPORT_TOKENS)
        self.m["export_s"] = time.perf_counter() - t1
        shards = sorted(
            (r["s"], r["n"], r["t"])
            for r in read_snapshot(self.spark, export_root)
            .groupBy(F.col("shard_id").cast("bigint").alias("s"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tokens").cast("bigint").alias("t"))
            .collect()
        )
        self.m["sources.versioned.index_rows"] = read_snapshot(self.spark, index_root).count()
        self.m["sources.versioned.commit_bytes"] = sum(s for s, _ in dir_files(index_root).values())

        oracle_sql = all_oracles()["dedup_index_audit"]
        planted = {i for b in self.doc_batches for i in b["planted"]}
        landed_ids = {int(i) for b in self.doc_batches for i in b["doc_id"]}

        def check_keep() -> bool:
            from checks import dedup_keep_list, kept_ids

            got = kept_ids(kept_dir)
            dropped = landed_ids - got
            self.m["dedup.drop_ratio"] = len(dropped & planted) / max(len(planted), 1)
            self.m["dedup.unplanted_drops"] = len(dropped - planted)
            return got == dedup_keep_list(oracle_sql, os.path.join(landing, "*.parquet"))

        def check_export() -> bool:
            from checks import export_shards

            return wrote and shards == export_shards(kept_dir, EXPORT_TOKENS)

        self.check_later("dedup keep-list equals the DuckDB replay", check_keep)
        self.check_later("export shard totals equal the DuckDB recomputation", check_export)
        trig = self.trigger_s.get("dedup", [])
        self.m["streaming.dedup_index.trigger_s"] = median(trig)
        for k, t in enumerate(trig):
            self.m[f"streaming.dedup_index.trigger_s.{k}"] = t
        self.m["streaming.dedup_index.docs_per_s"] = n_docs / stream_s

    # -- phase: analytics (traced run) ----------------------------------------------
    def run_analytics(self) -> None:
        from strava_data_pipeline_spark.plans.registry import REGISTRY, all_queries

        all_queries()  # imports every query pack
        total = 0.0
        for name in ANALYTICS:
            spec = REGISTRY[name]
            t0 = time.perf_counter()
            with self.rec.span(f"plans.{name}"):
                df = spec.fn(self.spark, self.base)
                rows = df.collect()
            dt = time.perf_counter() - t0
            total += dt
            self.m[f"plans.{name}_s"] = dt
            self.spark.catalog.clearCache()

            def check(sql=spec.oracle, cols=df.columns, rows=rows) -> bool:
                from checks import RegistryOracle

                return RegistryOracle(self.base).matches(sql, cols, rows)

            self.check_later(f"analytics {name} matches its DuckDB oracle", check)
        self.m["plans.analytics_total_s"] = total


def install_trigger_timer(bench: Bench) -> None:
    """Time every foreachBatch call (one micro-batch trigger) by wrapping
    the function handed to DataStreamWriter.foreachBatch."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    orig = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        def timed(df, batch_id):
            t0 = time.perf_counter()
            with bench.rec.span(f"streaming.{bench.phase}.trigger"):
                func(df, batch_id)
            bench.trigger_s.setdefault(bench.phase, []).append(time.perf_counter() - t0)

        return orig(self, timed)

    DataStreamWriter.foreachBatch = foreach_batch


def configure_env(work: str, trace: bool) -> None:
    """Keep every file the run writes inside ``work``, pin the clock zone,
    and (traced run only) turn the event log on at submit time."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # -XX:-UsePerfData: the JVM would otherwise keep a file in /tmp;
    # -XX:-UseDynamicNumberOfCompilerThreads keeps the JIT compiler threads
    # alive, so their CPU can be told apart (see rss.tree_cpu_s)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    conf = [f"spark.driver.extraJavaOptions={java_opts}", "spark.ui.showConsoleProgress=false"]
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{logs}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"


def layer_metrics(b: Bench) -> dict[str, tuple[float, str]]:
    """Per-layer figures of a traced run, from its spans and event log."""
    rec = b.rec
    out: dict[str, tuple[float, str]] = {}
    timed = b.timed_ok
    reqs = rec.closed("api.request", timed)
    per_op: dict[str, list[float]] = {}
    for s in reqs:
        per_op.setdefault(s["op"], []).append((s["end"] - s["start"]) * 1e3)
    for op in gen.OPS:
        out[f"api.{op}_ms"] = (median(per_op.get(op, [])), "ms")
    out["api.auth_ms"] = (median(rec.self_times("api.authorized_call", timed)) * 1e3, "ms")
    out["api.build_ms"] = (median(rec.durations("api.build", timed)) * 1e3, "ms")
    out["api.exec_ms"] = (median(rec.durations("api.exec", timed)) * 1e3, "ms")
    out["sources.catalog.load_table_ms"] = (median(rec.durations("sources.catalog.load_table", timed)) * 1e3, "ms")
    out["session.cold_start_s"] = (b.setups[0], "s")
    out["session.get_spark_s"] = (median(b.get_spark_s), "s")
    out["streaming.sync.trigger_s"] = (median(b.trigger_s.get("sync", [])), "s")
    out["streaming.sync.run_s"] = (b.m["streaming.sync.run_s"], "s")
    for k in ("streaming.sync.partitions_touched", "streaming.sync.target_files"):
        out[k] = (b.m[k], "count")
    out["sources.write_amp"] = (b.m["sources.write_amp"], "ratio")
    for k, v in b.m.items():
        if k.startswith("streaming.dedup_index.trigger_s"):
            out[k] = (v, "s")
    out["streaming.dedup_index.docs_per_s"] = (b.m["streaming.dedup_index.docs_per_s"], "1/s")
    out["dedup.drop_ratio"] = (b.m["dedup.drop_ratio"], "ratio")
    out["dedup.unplanted_drops"] = (b.m["dedup.unplanted_drops"], "count")
    out["sources.versioned.index_rows"] = (b.m["sources.versioned.index_rows"], "count")
    out["sources.versioned.commit_bytes"] = (b.m["sources.versioned.commit_bytes"], "bytes")
    out["sources.corpus_export.export_s"] = (b.m["export_s"], "s")
    for name in ANALYTICS:
        out[f"plans.{name}_s"] = (b.m[f"plans.{name}_s"], "s")
    out["plans.analytics_total_s"] = (b.m["plans.analytics_total_s"], "s")

    jobs, tasks = read_event_log(os.path.join(b.work, "eventlog"))
    job_map, task_map = attribute(rec, jobs), attribute(rec, tasks)

    def per_request(m: dict[int, list]) -> float:
        hits = sum(len(v) for sid, v in m.items() if rec.spans[sid]["request"] in timed)
        return hits / max(len(reqs), 1)

    out["api.jobs_per_req"] = (per_request(job_map), "count")
    out["api.tasks_per_req"] = (per_request(task_map), "count")
    for phase in ("api", "sync", "dedup", "analytics"):
        ts = under(rec, task_map, f"phase.{phase}")
        out[f"spark.{phase}.tasks"] = (len(ts), "count")
        out[f"spark.{phase}.executor_run_s"] = (sum(t["run_s"] for t in ts), "s")
        out[f"spark.{phase}.shuffle_write_bytes"] = (sum(t["shuffle_write_bytes"] for t in ts), "bytes")
        out[f"spark.{phase}.shuffle_read_bytes"] = (sum(t["shuffle_read_bytes"] for t in ts), "bytes")
        out[f"spark.{phase}.gc_s"] = (sum(t["gc_s"] for t in ts), "s")
    out["spark.spill_bytes"] = (sum(t["spill_bytes"] for t in tasks), "bytes")
    out["proc.peak_rss_mb"] = (b.m["peak_rss_mb"], "MB")
    out["api.jit_cpu_ms"] = (b.m["api.jit_cpu_ms"], "ms")
    out["api.gc_cpu_ms"] = (b.m["api.gc_cpu_ms"], "ms")
    out["streaming.sync.jit_cpu_s"] = (b.m["streaming.sync.jit_cpu_s"], "s")
    out["streaming.sync.gc_cpu_s"] = (b.m["streaming.sync.gc_cpu_s"], "s")
    # the traced run's own end-to-end figures, to set against an
    # untraced run's: the difference is the tracing overhead
    for k in OVERHEAD:
        out[f"trace.{k}"] = (b.m[k], {**E2E, **INFO}[k])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="scale factor of the generated tables")
    args = ap.parse_args(argv)

    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        sys.path.insert(0, ROOT)
        import checks  # noqa: F401
        import strava_data_pipeline_spark.api.service  # noqa: F401
        import strava_data_pipeline_spark.streaming.dedup_index  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work, bool(args.trace))

    b = Bench(args, work)
    install_trigger_timer(b)
    b.make_inputs()
    t_run = time.perf_counter()
    steal0 = host_steal()
    try:
        with TreeRssSampler() as rss:
            b.setup()
            # each phase warms up, then the other runs while the JIT
            # compiler works through the first one's code, and only then
            # is it timed
            api, sync = b.run_api(args.seconds), b.run_sync()
            for phase, gen_ in (("api", api), ("sync", sync), ("api", api), ("sync", sync)):
                with b.phase_span(phase):
                    next(gen_, None)
            b.rec.unwrap_all()
            b.m["serve_heap_mb"] = b.live_heap_mb()
            while len(b.setups) < SETUPS:
                b.setup()
            if args.trace:
                with b.phase_span("dedup"):
                    b.run_dedup()
                with b.phase_span("analytics"):
                    b.run_analytics()
    finally:
        b.teardown()
    wall = time.perf_counter() - t_run
    steal1 = host_steal()
    steal_pct = 100.0 * (steal1[1] - steal0[1]) / max(steal1[0] - steal0[0], 1)
    b.run_checks()
    # the gated CPU figures at the reference host speed: the host ran
    # this run's probe median/PROBE_REF_S times slower than that
    b.m["probe_cpu_s"] = median(b.probes)
    for k, raw in (("api_cpu_ms", "api_cpu_raw_ms"), ("sync_cpu_s", "sync_cpu_raw_s")):
        b.m[raw] = b.m[k]
        b.m[k] *= PROBE_REF_S / b.m["probe_cpu_s"]
    b.m["setup_s"] = median(b.setups)
    b.m["cold_start_s"] = b.setups[0]
    b.m["peak_rss_mb"] = rss.peak_mb

    trace_dir = os.path.join(state, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    e2e_file = os.path.join(trace_dir, f"e2e-{args.workload}.json")
    if args.trace:
        metrics = layer_metrics(b)
        b.rec.dump(os.path.join(trace_dir, f"spans-{args.workload}-seed{args.seed}.json"))
        if os.path.exists(e2e_file):
            with open(e2e_file) as f:
                plain = json.load(f)
            for k in OVERHEAD:
                print(
                    f"tracing overhead {k}: {b.m[k]:.4g} traced (seed {args.seed}) vs "
                    f"{plain[k]:.4g} untraced (seed {plain['seed']}): {(b.m[k] / plain[k] - 1) * 100:+.1f}%"
                )
    else:
        metrics = {k: (b.m[k], u) for k, u in E2E.items()}
        with open(e2e_file, "w") as f:
            json.dump({**{k: b.m[k] for k in OVERHEAD}, "seed": args.seed}, f)

    print(
        f"inputs {b.gen_s:.2f}s, run {wall:.1f}s, setups {[round(s, 2) for s in b.setups]}, "
        f"phases {({k: round(v, 1) for k, v in b.phase_s.items()})}, host CPU steal {steal_pct:.1f}%"
    )
    print(f"api: {b.m['api_requests']:.0f} timed requests")
    print(f"op_fail_frac {b.failed}/{b.attempted} = {b.failed / b.attempted:.4f}")
    for note in b.fail_notes:
        print(f"FAILED: {note}")
    if not args.trace:
        for k, u in INFO.items():
            print(f"  {k:44s} {b.m[k]:14.4f} {u}  (not gated)")
    for k, (v, u) in metrics.items():
        print(f"  {k:44s} {v:14.4f} {u}")
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
