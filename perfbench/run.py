"""CDC ingest and lake-read benchmark for ztdf_spark.

    python3 perfbench/run.py --workload cdc_hotkey --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One process, one Spark session on
``local[3]``. The workload's binlog is generated from ``--seed``; the
benchmark then times calls into the public functions of
``ztdf_spark.pipeline``, ``ops``, ``tdf`` and ``lake`` from outside the
package. A run measures exactly one *cycle*, whatever ``--seconds`` says
(a cycle takes about 20-25 s): a cycle count bounded by time would depend on
the speed of the code under test. A cycle is what a CDC deployment does
with one catch-up window:

1. ingest: ``CdcPipeline.replay_in_batches`` of the whole binlog in 8
   micro-batches into a fresh merge-on-read lake, twice;
2. lookups: ``LakeTable.read_keys`` on three sets of 10 seeded-random keys;
3. full scan: ``LakeTable.read`` then ``ops.decrypt_batch``, three times;
4. in the traced run only, the change feed: ``LakeTable.changes`` across
   the last commit, then maintenance: ``LakeTable.compact``.

Every result is consumed by an aggregate inside the timed call and checked
against a pandas oracle built from the binlog (``oracle.py``). After the
timing, the program's own ``CdcPipeline.verify_roundtrip`` checks the
lake the measured cycle read. Set-up (input generation, and one
untimed warm-up cycle: a replay of the binlog's first 4 batches and one
of each read) is outside the timed region and is reported as
``setup_s``. With
``--trace 1`` the measured cycle runs under an event-logging listener and
spans around each call, and the run prints per-layer metrics instead (see
README.md).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``. The line before it holds the run's detail. The
exit code is 0 only when every check passed; 2 when the program cannot be
imported. On every way out, the Spark JVM and the Python workers it
started are stopped and waited for before the process exits.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_BASE = os.path.join(ROOT, ".perfbench_work")

CORES = 3
N_FILES = 16
N_BATCHES = 8
# the warm-up replays the files of the first 4 batches (the same 2 files a
# batch): batch 0 alone as the overlap probe, then 3 overlapped, as many
# as the replay keeps in flight, with the dedup decisions of the measured
# replays. After a 3-batch warm-up (never 3 in flight) the first measured
# hot-key replay ran ~20% slower than the second.
WARM_BATCHES = 4
SETUP_ROUNDS = 3
LOOKUP_KEYS = 10
# a measured cycle replays the binlog twice, into two fresh lakes: the
# overlapped batches' walls are bimodal (a batch waits for its commit turn
# or not), and a summary of one replay's 8 batches moves with the mix of
# the two modes from run to run
REPLAYS = 2
# ... and makes the lookup (on three key sets) and the scan three times:
# a single 2 s read call spread 0.3 of its median from run to run, and
# the median of three drops one slow call
READS = 3
TDF_SAMPLE_ROWS = 2000

# events per doc: 20 on the hot-key stream (per-batch amplification above
# the dedup threshold, so every batch dedups), 2 on the append stream
# (only batch 0 dedups; most events reach the encrypt UDF)
WORKLOADS = {
    "cdc_hotkey": {"n_events": 80_000, "n_docs": 4_000},
    "cdc_append": {"n_events": 60_000, "n_docs": 30_000},
}


def process_tree() -> list[int]:
    """This process and all its descendants (the Spark JVM, the Python
    worker daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def proc_stat(pid: int) -> tuple[str, int] | None:
    """State and start time of a process, None when it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], int(fields[19])
    except (OSError, IndexError, ValueError):
        return None


def end_processes(pids: list[int], grace_s: float = 10.0) -> None:
    """Send SIGTERM to the processes that are still running, SIGKILL to
    those that outlive ``grace_s``, and wait until every one has ended."""
    started = {pid: st[1] for pid in pids if (st := proc_stat(pid))}

    def running() -> list[int]:
        out = []
        for pid, start in started.items():
            st = proc_stat(pid)
            if st and st[1] == start and st[0] != "Z":
                out.append(pid)
        return out

    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, None)):
        for pid in running():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        deadline = None if wait_s is None else time.monotonic() + wait_s
        while running() and (deadline is None or time.monotonic() < deadline):
            time.sleep(0.05)
        if not running():
            return


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and every process under it (the
    Python worker daemon and its workers) and wait for each. ``spark.stop()``
    leaves the JVM running: it exits by itself only when it sees its stdin
    close, which without this happens after the benchmark has exited."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        descendants = process_tree()[1:]
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        end_processes(descendants)


class RssMonitor(threading.Thread):
    """Samples the resident set of the process tree and keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval_s):
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


class Tracer:
    """Spans around the benchmark's calls into the program. Times are
    epoch milliseconds, the clock of the Spark event log."""

    def __init__(self):
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        start = time.time() * 1e3
        try:
            yield
        finally:
            self.spans.append({"name": name, "start": start, "end": time.time() * 1e3})

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name]


def no_span(name: str):
    return contextlib.nullcontext()


def build_session(work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    return (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("ztdf-perfbench")
        # Python workers import ztdf_spark from this checkout, whatever the
        # current directory is
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.driver.memory", "2g")
        # C1 only: a run lasts under a minute, and C2 compiling through it
        # burns CPU the run needs and makes its figures depend on when C2
        # finishes; C1 settles within the warm-up cycle
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Xms2g -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m",
        )
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * CORES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run attaches its own event-logging listener
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )


@contextlib.contextmanager
def event_log(spark, out_dir: str):
    """Attach Spark's event-logging listener for the duration of the
    block, so only the traced cycles are logged, then flush and detach."""
    sc = spark.sparkContext
    jvm, jsc = sc._jvm, sc._jsc.sc()
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        "perfbench", jvm.scala.Option.empty(), jvm.java.net.URI("file://" + out_dir),
        jsc.conf(), jsc.hadoopConfiguration(),
    )
    listener.start()
    jsc.addSparkListener(listener)
    try:
        yield
    finally:
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(listener)
        listener.stop()


def dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()


def lake_data_bytes(lake_path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(lake_path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet"))
    return total


def cpu_probe_s() -> float:
    """Wall of a fixed pure-Python loop on one core: how fast the machine
    ran at that moment, recorded in the run's detail."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc ^= i * 7
    return time.perf_counter() - t0


def steal_ticks() -> int:
    """CPU time the hypervisor gave to other guests, in clock ticks."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def median(xs):
    return statistics.median(xs) if xs else None


class Source:
    """A binlog directory, the number of batches it is replayed in, and its
    pandas oracle."""

    def __init__(self, binlog: str, n_batches: int):
        from oracle import Oracle

        self.binlog = binlog
        self.n_batches = n_batches
        self.oracle = Oracle(binlog, n_batches)
        self.live = self.oracle.live()


class Bench:
    def __init__(self, spark, work: str, workload: str, seed: int, lake_maintenance: bool):
        import numpy as np

        from ztdf_spark.settings import Settings

        self.spark = spark
        self.work = work
        self.shape = WORKLOADS[workload]
        self.seed = seed
        self.lake_maintenance = lake_maintenance
        self.settings = Settings()
        rng = np.random.default_rng(seed)
        self.key_sets = [
            [f"doc-{i:08d}" for i in rng.choice(self.shape["n_docs"], LOOKUP_KEYS, replace=False)] for _ in range(READS)
        ]
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.warm: dict[str, list[float]] = {}
        # per-batch dedup decision of every replay, by cycle tag
        self.dedup_vectors: dict[str, list[bool]] = {}
        self.audits: list[dict] = []
        # (delta files, lake parquet bytes) after each traced ingest
        self.ingested: list[tuple[int, int]] = []
        self.verify: list[dict] = []

    # ------------------------------------------------------------ set-up

    def generate(self) -> list[float]:
        """Write the seeded binlog SETUP_ROUNDS times, check every copy is
        byte-identical, copy the files of its first WARM_BATCHES batches
        for the warm-up, and build the oracles. Returns the generation
        walls."""
        from oracle import batch_groups

        from ztdf_spark.datagen import BinlogSpec, expected_final_state, write_binlog

        spec = BinlogSpec(
            n_events=self.shape["n_events"],
            n_docs=self.shape["n_docs"],
            n_files=N_FILES,
            seed=self.seed,
        )
        binlog = os.path.join(self.work, "binlog")
        walls, digests = [], []
        for r in range(SETUP_ROUNDS):
            out = binlog if r == 0 else f"{binlog}-{r}"
            t0 = time.perf_counter()
            write_binlog(out, spec)
            walls.append(time.perf_counter() - t0)
            digests.append(dir_digest(out))
            if r:
                shutil.rmtree(out)
        self.check(len(set(digests)) == 1, "the same seed generated different inputs")

        warm = f"{binlog}-warm"
        os.makedirs(warm)
        for group in batch_groups(binlog, N_BATCHES)[:WARM_BATCHES]:
            for f in group:
                shutil.copyfile(os.path.join(binlog, f), os.path.join(warm, f))
        self.full = Source(binlog, N_BATCHES)
        self.warm_src = Source(warm, WARM_BATCHES)
        for src in (self.full, self.warm_src):
            expected = expected_final_state(src.binlog)
            self.check(
                sorted(zip(expected.doc_id, expected.lsn)) == sorted(zip(src.live.index, src.live.lsn)),
                f"oracle final state of {src.binlog} differs from datagen.expected_final_state",
            )
        return walls

    # -------------------------------------------------------------- checks

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def op(self, name: str, fn, measured: bool, count: int = 1):
        """Run one call into the program, worth ``count`` operations, and
        record its wall (under ``warm`` when not measured). Returns fn's
        result, or None when it raised (counted as failed)."""
        if measured:
            self.attempted += count
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception:
            traceback.print_exc()
            self.failures.append(f"{name} raised")
            return None
        (self.samples if measured else self.warm).setdefault(name, []).append(time.perf_counter() - t0)
        return res

    # ------------------------------------------------------------ one cycle

    def cycle(self, tag: str, measured: bool, tracer: Tracer | None = None):
        """Ingest the binlog (the warm-up's prefix of it when not
        ``measured``) into fresh lakes, then read the last one (and, with
        ``lake_maintenance``, read its change feed and compact it).
        Returns the pipeline of the last lake; the caller deletes it."""
        from pyspark.sql import functions as F

        from ztdf_spark import ops
        from ztdf_spark.pipeline import CdcPipeline, PipelineConfig

        span = tracer.span if tracer else no_span
        samples = self.samples if measured else self.warm
        src = self.full if measured else self.warm_src
        batch_walls: list[float] = []

        class TimedPipeline(CdcPipeline):
            def process_batch(self, batch, batch_id):
                t0 = time.perf_counter()
                with span("batch"):
                    try:
                        return super().process_batch(batch, batch_id)
                    finally:
                        batch_walls.append(time.perf_counter() - t0)

        # 1. ingest, REPLAYS times in a measured cycle, each into a fresh
        # lake; the reads below use the last one. Every batch counts as
        # one operation.
        for r in range(REPLAYS if measured else 1):
            root = os.path.join(self.work, f"cycle-{tag}-{r}")
            if r:
                shutil.rmtree(pipe.cfg.root, ignore_errors=True)
            pipe = TimedPipeline(self.spark, self.settings, PipelineConfig(root=root, target_file_rows=1_000_000))
            table = pipe.table
            if tracer:
                commit_staged = table.commit_staged

                def traced_commit(*a, commit_staged=commit_staged, **k):
                    with span("commit"):
                        return commit_staged(*a, **k)

                table.commit_staged = traced_commit

            def ingest():
                with span("ingest"):
                    return pipe.replay_in_batches(src.binlog, n_batches=src.n_batches)

            audits = self.op("replay_s", ingest, measured, count=src.n_batches)
            if audits is None:
                return pipe
            n_events = sum(a.get("n_events", 0) for a in audits)
            self.check(
                len(audits) == src.n_batches and n_events == src.oracle.n_events,
                f"{tag}: ingest committed {len(audits)} batches / {n_events} events",
            )
            self.dedup_vectors[f"{tag}-{r}"] = [bool(a.get("dedup")) for a in audits]
            if measured:
                self.audits.extend(audits)
            if tracer:
                # lake layout as ingest left it, before compaction rewrites it
                self.ingested.append((table.delta_files(), lake_data_bytes(pipe.cfg.lake_path)))
        samples.setdefault("batch_s", []).extend(batch_walls)
        versions = [a["snapshot_version"] for a in audits]

        reads = READS if measured else 1

        # 2. point lookups on the merge-on-read lake
        for keys in self.key_sets[:reads]:

            def lookup():
                with span("lookup"):
                    t_plan = time.perf_counter()
                    with span("lookup.plan"):
                        df = table.read_keys(keys)
                    samples.setdefault("lookup.plan_s", []).append(time.perf_counter() - t_plan)
                    return df.agg(
                        F.sort_array(F.collect_list(F.struct("doc_id", "lsn"))).alias("rows"),
                        F.sum(F.length("ciphertext")).alias("ct_bytes"),
                    ).collect()[0]

            row = self.op("lookup", lookup, measured)
            if row is not None:
                got = [(r.doc_id, r.lsn) for r in row.rows]
                want = src.oracle.lookup(src.live, keys)
                self.check(got == want, f"{tag}: lookup {got} != {want}")
                self.check(not want or (row.ct_bytes or 0) > 0, f"{tag}: lookup empty ciphertext")

        # 3. full scan + decrypt
        def scan_decrypt():
            with span("scan_decrypt"):
                t_plan = time.perf_counter()
                with span("read.plan"):
                    df = table.read()
                samples.setdefault("read.plan_s", []).append(time.perf_counter() - t_plan)

                def total(arr):
                    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)

                tok_sum = total("tokens_out")
                # token i weighted by i + 1: a reordered row changes it
                pos_sum = total(F.transform("tokens_out", lambda x, i: x.cast("long") * (i + 1)))
                return ops.decrypt_batch(df, self.settings).agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum("lsn").alias("lsn_sum"),
                    F.sum(F.size("tokens_out")).alias("n_tokens"),
                    F.sum(tok_sum).alias("token_sum"),
                    F.sum(pos_sum).alias("pos_token_sum"),
                    F.sum(F.col("lsn") * tok_sum).alias("lsn_x_token_sum"),
                    F.sum(F.when(F.col("decrypt_error").isNotNull(), 1).otherwise(0)).alias("errors"),
                ).collect()[0]

        for _ in range(reads):
            row = self.op("scan_decrypt", scan_decrypt, measured)
            if row is not None:
                want = src.oracle.scan_digest(src.live)
                got = {k: int(row[k] or 0) for k in want}
                self.check(got == want and not row.errors, f"{tag}: scan {got} errors={row.errors} != {want}")

        # the change feed and compaction make only per-layer metrics, so
        # only the traced run makes them (each takes 1-3 s, in the warm-up
        # and again in the measured cycle)
        if self.lake_maintenance:
            self.maintain(tag, src, table, versions[-1], span, measured)
        return pipe

    def verify_lake(self, tag: str, pipe) -> None:
        """The program's own round-trip check, untimed, on the lake a
        measured cycle read (after its compaction in the traced run); then
        delete the lake."""
        v = self.op("verify_roundtrip", lambda: pipe.verify_roundtrip(self.full.binlog), measured=False)
        if v is not None:
            self.verify.append(v)
            self.check(
                all(n == 0 for k, n in v.items() if k != "compared") and v["compared"] == len(self.full.live),
                f"{tag}: verify_roundtrip {v} (expected {len(self.full.live)} live rows)",
            )
        shutil.rmtree(pipe.cfg.root, ignore_errors=True)

    def maintain(self, tag: str, src: Source, table, version: int, span, measured: bool) -> None:
        """Read the change feed across the last commit, then compact."""
        from pyspark.sql import functions as F

        # change feed across the last commit (each batch commits one
        # version; the oracle check fails if that stops holding)
        def changes():
            with span("changes"):
                df = table.changes(version - 1, version)
                agg = []
                for t in ("insert", "update", "delete"):
                    hit = F.col("_change_type") == t
                    agg += [
                        F.sum(F.when(hit, 1).otherwise(0)).alias(f"n_{t}"),
                        F.sum(F.when(hit, F.col("lsn")).otherwise(0)).alias(f"lsn_{t}"),
                    ]
                return df.agg(*agg).collect()[0]

        row = self.op("changes", changes, measured)
        if row is not None:
            got = {t: (int(row[f"n_{t}"] or 0), int(row[f"lsn_{t}"] or 0)) for t in ("insert", "update", "delete")}
            want = src.oracle.changes(src.n_batches - 2, src.n_batches - 1)
            self.check(got == want, f"{tag}: changes {got} != {want}")

        # compaction
        def compact():
            with span("compact"):
                return table.compact()

        stats = self.op("compact", compact, measured)
        if stats is not None:
            self.check(not stats.get("noop"), f"{tag}: compaction was a no-op")

    # ------------------------------------------------------------ tdf layer

    def tdf_layer(self) -> dict:
        """Driver-side per-row cost of the envelope layer on a fixed sample
        of the workload's change events: ZtdfEncryptor.encrypt and
        decrypt_ztdf, each median of three passes."""
        import numpy as np

        from ztdf_spark import tdf

        s = self.settings
        log = self.full.oracle.log
        rows = log[log.op != "D"].head(TDF_SAMPLE_ROWS)
        items = [
            (
                np.asarray(r.tokens, dtype="<i4").tobytes(),
                r.doc_id,
                int(r.lsn),
                tdf.resolve_kas_urls(r.kas_url, s.default_kas_url),
                tdf.resolve_data_attributes(r.tdf_attribute),
                tuple(tdf.parse_assertions_json(r.assertions)) if r.assertions else (),
            )
            for r in rows.itertuples()
        ]
        enc = tdf.ZtdfEncryptor(s.master_secret, None, container=s.container_format, wrap_mode=s.wrap_mode)
        enc_walls, dec_walls = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            blobs = [
                enc.encrypt(p, doc_id=d, lsn=l, kas_urls=k, data_attributes=a, assertions=asr)
                for p, d, l, k, a, asr in items
            ]
            enc_walls.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            plain = [tdf.decrypt_ztdf(b, master_secret=s.master_secret) for b in blobs]
            dec_walls.append(time.perf_counter() - t0)
            self.check(plain == [it[0] for it in items], "tdf: decrypt(encrypt(x)) != x")
        n = len(items)
        return {
            "tdf.encrypt_us_per_row": median(enc_walls) / n * 1e6,
            "tdf.decrypt_us_per_row": median(dec_walls) / n * 1e6,
            "tdf.envelope_bytes_per_row": sum(len(b) for b in blobs) / n,
        }


def layer_metrics(bench: Bench, tracer: Tracer, log, traced_wall: float, plain_wall: float, audits) -> dict:
    """Per-layer metrics of the traced cycle: ingest metrics per replay,
    read metrics per call, ``spark.*`` for the whole cycle."""
    ingest = tracer.windows("ingest")
    reps = len(ingest)
    batches = tracer.windows("batch")
    commits = tracer.windows("commit")
    lookups = tracer.windows("lookup")
    changes = tracer.windows("changes")
    scans = tracer.windows("scan_decrypt")
    compacts = tracer.windows("compact")
    commit_s = sum(b - a for a, b in commits) / 1e3
    overlapped = sum(
        1
        for i, (a0, a1) in enumerate(batches)
        if any(j != i and b0 < a1 and a0 < b1 for j, (b0, b1) in enumerate(batches))
    )

    def udf(name, windows=ingest):
        return log.sql_metric("ArrowEvalPython", name, windows) / len(windows)

    encrypt_rows = udf("number of output rows")
    tasks = log.tasks_in()
    return {
        "pipeline.jobs_per_batch": len(log.jobs_in(ingest)) / len(batches),
        "pipeline.driver_idle_s": log.idle_s(ingest) / reps,
        "pipeline.commit_wait_s": (sum(a.get("sink_commit_s", 0.0) for a in audits) - commit_s) / reps,
        "pipeline.overlap_batches": overlapped / reps,
        "pipeline.dedup_batches": sum(1 for a in audits if a.get("dedup")) / reps,
        "ops.scan_bytes": log.sql_metric("Scan parquet", "size of files read", ingest) / reps,
        "ops.scan_s": log.sql_metric("Scan parquet", "scan time", ingest) / reps,
        "ops.broadcast_build_s": log.sql_metric("BroadcastExchange", "time to build", ingest) / reps,
        "ops.broadcast_bytes": log.sql_metric("BroadcastExchange", "data size", ingest) / reps,
        "ops.shuffle_bytes": sum(t.shuffle_write_bytes for t in log.tasks_in(ingest)) / reps,
        "ops.encrypt_rows": encrypt_rows,
        "ops.encrypt_useful_ratio": len(bench.full.live) / encrypt_rows,
        "ops.udf_total_s": udf("time to run Python workers"),
        "ops.udf_init_s": udf("time to initialize Python workers"),
        "ops.udf_bytes_sent": udf("data sent to Python workers"),
        "ops.udf_bytes_received": udf("data returned from Python workers"),
        "ops.decrypt_udf_total_s": udf("time to run Python workers", scans),
        **bench.tdf_layer(),
        "lake.commit_s": commit_s / reps,
        "lake.commits": len(commits) / reps,
        "lake.write_bytes_per_event": median([b for _, b in bench.ingested]) / bench.shape["n_events"],
        "lake.delta_files": median([f for f, _ in bench.ingested]),
        "lake.lookup_files_read": log.sql_metric("Scan parquet", "number of files read", lookups) / len(lookups),
        "lake.lookup_plan_s": median(bench.samples["lookup.plan_s"]),
        "lake.changes_s": median(bench.samples["changes"]),
        "lake.changes_files_read": log.sql_metric("Scan parquet", "number of files read", changes) / len(changes),
        "lake.read_plan_s": median(bench.samples["read.plan_s"]),
        "lake.compact_s": median(bench.samples["compact"]),
        "lake.compact_bytes_rewritten": sum(t.output_bytes for t in log.tasks_in(compacts)) / len(compacts),
        "spark.task_s": sum(t.run_ms for t in tasks) / 1e3,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "spark.slot_busy_frac": sum(t.run_ms for t in tasks) / 1e3 / (traced_wall * CORES),
        "spark.jobs": len(log.jobs),
        "spark.stages": len(log.stages_in()),
        "trace.overhead_ratio": traced_wall / plain_wall,
    }


def run(args, work: str) -> tuple[dict, dict]:
    from evlog import EventLog

    monitor = RssMonitor() if args.trace else None
    if monitor:
        monitor.start()
    detail: dict = {"workload": args.workload, "seed": args.seed, "cpu_probe_s": [cpu_probe_s()]}
    steal0 = steal_ticks()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(work)
        spark.sparkContext.setLogLevel("ERROR")
        detail["session_start_s"] = time.perf_counter() - t0
        bench = Bench(spark, work, args.workload, args.seed, lake_maintenance=bool(args.trace))

        # ---- set-up: input generation, then one untimed warm-up cycle
        gen_walls = bench.generate()
        t0 = time.perf_counter()
        shutil.rmtree(bench.cycle("warm", measured=False).cfg.root, ignore_errors=True)
        # collect the warm-up's garbage now, not inside the first timed
        # call: the JVM's (Spark's ContextCleaner frees the warm-up's
        # broadcasts and shuffle files once their handles are collected)
        # and the driver's
        spark.sparkContext._jvm.System.gc()
        gc.collect()
        warm_cycle_s = time.perf_counter() - t0
        setup_s = median(gen_walls) + warm_cycle_s

        # ---- the measured cycle: always exactly one, whatever --seconds
        # says, so that how many samples a run takes does not depend on
        # the speed of the code under test. Its last lake is verified after
        # the timing (and outside the event log).
        def measured_cycle(tag, tracer=None):
            t0 = time.perf_counter()
            pipe = bench.cycle(tag, measured=True, tracer=tracer)
            return time.perf_counter() - t0, pipe

        if args.trace:
            tracer = Tracer()
            ev_dir = os.path.join(work, "eventlog")
            os.makedirs(ev_dir)
            with event_log(spark, ev_dir):
                traced_wall, pipe = measured_cycle("traced", tracer)
            bench.verify_lake("traced", pipe)
            traced_audits = list(bench.audits)
            plain_wall, pipe = measured_cycle("plain")
            bench.verify_lake("plain", pipe)
            detail["measured_cycle_s"] = [traced_wall, plain_wall]
            metrics = {}
            if not bench.failures:
                log = EventLog.read(os.path.join(ev_dir, os.listdir(ev_dir)[0]))
                metrics = layer_metrics(bench, tracer, log, traced_wall, plain_wall, traced_audits)
        else:
            wall, pipe = measured_cycle("run")
            bench.verify_lake("run", pipe)
            detail["measured_cycle_s"] = [wall]
            s = bench.samples
            metrics = {
                "setup_s": setup_s,
                "ingest_eps": bench.shape["n_events"] / median(s["replay_s"]) if "replay_s" in s else None,
                # the mean, not the median: overlapped batches' walls have
                # two modes (a batch waits for its commit turn or not) of
                # near-equal weight, and the median of 16 jumped between them
                "batch_mean_s": statistics.mean(s["batch_s"]) if s.get("batch_s") else None,
                "lookup_p50_s": median(s.get("lookup")),
                "scan_decrypt_s": median(s.get("scan_decrypt")),
            }
        detail["cpu_probe_s"].append(cpu_probe_s())
        detail.update(
            steal_ticks=steal_ticks() - steal0,
            generate_s=gen_walls,
            warm_cycle_s=warm_cycle_s,
            warm={k: [round(x, 4) for x in v] for k, v in bench.warm.items()},
            walls={k: [round(x, 4) for x in v] for k, v in bench.samples.items()},
            dedup_vectors=bench.dedup_vectors,
            verify_roundtrip=bench.verify,
            failures=bench.failures,
        )
    finally:
        if spark is not None:
            stop_spark(spark)
        if monitor:
            monitor.stop()
    if monitor:
        metrics["peak_rss_mb"] = monitor.peak_bytes / 2**20
    return detail, {
        "correct": not bench.failures and all(v is not None for v in metrics.values()),
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a SIGTERM unwinds like an exception, so the Spark JVM and its
    # workers are stopped and the work directory removed on that path too
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    sys.path[:0] = [ROOT, HERE]
    try:
        import ztdf_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"cannot import ztdf_spark from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_BASE, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file of the driver, the JVM and the Python workers stays
    # inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in sorted(result["metrics"].items())}
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
