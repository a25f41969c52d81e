"""Spark side of the benchmark: one process per call.

    python3 perfbench/worker.py warm    --workload W --size Z --data DIR
    python3 perfbench/worker.py measure --workload W --seed S --size Z --data DIR \
        --warm DIR --work DIR --seconds N --trace 0|1 --out result.json

``run.py`` drives both. ``warm`` builds the warm-up slice of a workload
that has one; it is the same for every seed, so a checkout builds it once.
``measure`` starts a session and runs the warm-up pass if any (together
``setup_s``), then generates the seed's input unless a verified copy is
cached (outside ``setup_s``, so a cache hit and a miss time the same
set-up), then runs the timed passes. It writes one JSON result file;
everything the package prints goes to this process's stdout, which
``run.py`` sends to a log.

Every workload goes through the package's public entry points on
``local[N]`` (N = ``$SPARK_GRAFT_CPUS`` or the CPUs this process may use).
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import tracing as tr  # noqa: E402

SIZES = {
    # workload -> size -> (input rows, warm-up slice rows); batch_cold
    # times a cold pass, and one pass costs about the same from 30k rows to
    # 100k (per-job work dominates), so the smaller table keeps runs short
    "batch_cold": {"full": (30_000, 0), "tiny": (3_000, 0)},
    "media_dedup": {"full": (600, 600), "tiny": (120, 40)},
}
WARM_SEED = 0  # the warm-up slice does not depend on --seed
GEN_VERSION = 3  # bump when a generator's output changes

# media_dedup fixture shape: codec by id % 4; every PLANT_EVERY-th asset is
# a near-copy of the previous one (so always in another codec); assets with
# id % NULL_EVERY == NULL_AT have a documented NULL outcome.
MEDIA_SIDE = 64
MEDIA_CODECS = ("jpeg", "progressive", "png", "bmp")
PLANT_EVERY = 10
NULL_EVERY, NULL_AT = 50, 23

BATCH_FLAGS = [
    "--suite", "constraint", "--partition-col", "lang",
]
BATCH_SINKS = {
    "--violations": "violations",
    "--sketches": "hll",
    "--quantile-sketches": "tdigest",
    "--kmv-sketches": "kmv",
    "--hist-store": "hist",
}


def cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_dir: str | None = None):
    from anomaly_detector_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ.get('TMPDIR', local)}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
        })
    return get_spark(app_name="perfbench", cores=cores(), extra_conf=conf)


def fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# ---------------------------------------------------------------- inputs


def parquet_dir(d: str) -> str:
    """Where the table of cached input ``d`` lives (``d`` also holds its
    ``meta.json`` and the recorded verdict digest)."""
    return os.path.join(d, "table")


def data_files(d: str) -> list[str]:
    out = []
    for base, _dirs, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def digest_and_rows(d: str) -> tuple[str, int]:
    """sha256 over every parquet file of ``d`` (which also reads the input
    through once, warming the page cache) and the row count from footers."""
    import pyarrow.parquet as pq

    h, rows = hashlib.sha256(), 0
    for f in data_files(d):
        h.update(os.path.relpath(f, d).encode())
        with open(f, "rb") as fh:
            while chunk := fh.read(1 << 22):
                h.update(chunk)
        rows += pq.ParquetFile(f).metadata.num_rows
    return h.hexdigest(), rows


def is_cached(d: str, n_rows: int) -> bool:
    """Whether ``d`` holds a complete input of ``n_rows`` rows whose files
    match the recorded digest (checking reads the table through once)."""
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        return False
    with open(meta_path, encoding="utf-8") as f:
        meta = json.load(f)
    return meta.get("rows") == n_rows and \
        (meta.get("digest"), n_rows) == digest_and_rows(parquet_dir(d))


def ensure_input(d: str, n_rows: int, make) -> str:
    """Table dir of cached input ``d``; ``make(table_dir)`` regenerates it
    when it is missing, partial or stale (row count or file digest differ
    from the recorded ones), so such a copy is never timed. On a cache hit
    ``make(None)`` runs instead (see ``BatchCold.make``)."""
    if is_cached(d, n_rows):
        make(None)
        return parquet_dir(d)
    fresh(d)
    os.makedirs(d)
    make(parquet_dir(d))
    digest, rows = digest_and_rows(parquet_dir(d))
    if rows != n_rows:
        raise RuntimeError(f"generated input {d} has {rows} rows, expected {n_rows}")
    meta_path = os.path.join(d, "meta.json")
    with open(meta_path + ".tmp", "w", encoding="utf-8") as f:
        json.dump({"rows": rows, "digest": digest}, f)
    os.replace(meta_path + ".tmp", meta_path)
    return parquet_dir(d)


# ---------------------------------------------------------------- memory


def process_tree(root_pid: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of ``root_pid``
    and all its descendants."""
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stats[int(d)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, fields in stats.items():
            if int(fields[1]) == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return {p: stats[p] for p in tree if p in stats}


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(int(f[21]) * page for f in process_tree(root_pid).values())


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used by ``root_pid``, its descendants and their reaped
    children (user + system)."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(sum(int(x) for x in f[11:15]) for f in process_tree(root_pid).values()) / tick


class PeakRss:
    """Samples the process tree's RSS every ``period`` s while entered."""

    def __init__(self, period: float = 0.2):
        self.period, self.peak = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ---------------------------------------------------------------- batch_cold


class BatchCold:
    """Cold product-path run: ``cli.main`` with the constraint suite, the
    violations sink and four stores, fresh manifest and store dirs."""

    ops_per_pass = 1  # one operation per pass
    warm_up = False  # the timed pass is the process's first, as in one CLI call

    def __init__(self, spark, work: str, n_rows: int, seed: int):
        self.spark, self.work, self.n_rows = spark, work, n_rows
        self.input = None  # table dir, set by measure()
        from anomaly_detector_spark.plans.suite import constraint_suite

        self.suite = constraint_suite(partition_col="lang", min_rows=25)
        self.names = {s.id: s.name for s in self.suite}
        self.expected = None

    def make(self, table: str | None, n_rows: int, seed: int) -> None:
        """Write the input to ``table``; with ``table=None`` write the same
        table to a scratch dir and drop it, so that a cached input leaves the
        JVM in the state a generated one would before the cold pass."""
        from anomaly_detector_spark.synth import synth_files

        scratch = os.path.join(self.work, "replay")
        synth_files(self.spark, n_rows, seed=seed).write.parquet(table or fresh(scratch))
        shutil.rmtree(scratch, ignore_errors=True)

    def argv(self, table: str, pass_dir: str) -> list[str]:
        args = ["--input", table, "--manifest", os.path.join(pass_dir, "manifest"), *BATCH_FLAGS]
        for flag, sub in BATCH_SINKS.items():
            args += [flag, os.path.join(pass_dir, sub)]
        return args

    def final_check(self) -> tuple[int, list[str]]:
        return 0, []

    def run_pass(self) -> dict:
        from anomaly_detector_spark import cli

        pass_dir = fresh(os.path.join(self.work, "pass"))
        with contextlib.redirect_stdout(io.StringIO()):  # the CLI's JSON summary
            rc = cli.main(self.argv(self.input, pass_dir))
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")
        return {"pass_dir": pass_dir}

    def expected_counts(self) -> dict[str, int]:
        """Exact violation counts per check name, computed by DuckDB over
        the same parquet input."""
        import duckdb

        from anomaly_detector_spark.schema import ALLOWED_LANGS

        src = os.path.join(self.input, "*.parquet")
        allowed = ", ".join("'" + l.replace("'", "''") + "'" for l, _ in ALLOWED_LANGS)
        con = duckdb.connect()
        try:
            row = con.execute(f"""
                SELECT count(*) - count(DISTINCT (repo, path, "commit")),
                       count(*) FILTER (WHERE lang IS NULL OR lang NOT IN ({allowed})),
                       count(*) FILTER (WHERE content IS NULL),
                       count(*) FILTER (WHERE NOT regexp_full_match("commit", '[0-9a-f]{{40}}'))
                FROM read_parquet('{src}')
            """).fetchone()
        finally:
            con.close()
        return dict(zip(["uniqueness", "referential", "complete_content", "format_commit"], map(int, row)))

    def check(self, out: dict) -> tuple[int, list[str], str]:
        """Compare the committed manifest with the DuckDB counts; return the
        failed operations (the pass), the failures and the per-(partition,
        check) verdict digest."""
        if self.expected is None:
            self.expected = self.expected_counts()
        rows = self.spark.read.parquet(os.path.join(out["pass_dir"], "manifest")).select(
            "partition_key", "check_id", "verdict", "n_violations"
        ).collect()
        got: dict[str, int] = {}
        for r in rows:
            name = self.names.get(r["check_id"], r["check_id"])
            got[name] = got.get(name, 0) + int(r["n_violations"])
        failures = [
            f"{name}: manifest n_violations {got.get(name)} != duckdb {want}"
            for name, want in self.expected.items()
            if got.get(name) != want
        ]
        if len({r["check_id"] for r in rows}) != len(self.suite):
            failures.append("manifest does not cover every check of the suite")
        return int(bool(failures)), failures, verdict_digest(
            (r["partition_key"], self.names.get(r["check_id"], r["check_id"]), r["verdict"]) for r in rows
        )

    # -- traced run: the same pass split at the package's public functions

    def trace(self, t: tr.Tracer) -> tuple[dict, dict]:
        from pyspark.sql import functions as F

        from anomaly_detector_spark.checks.base import null_safe_join
        from anomaly_detector_spark.checks.kmv import kmv_sketch
        from anomaly_detector_spark.checks.quantiles import tdigest_sketches
        from anomaly_detector_spark.checks.stats import hll_sketches
        from anomaly_detector_spark.plans import manifest as M
        from anomaly_detector_spark.plans.suite import run_suite
        from anomaly_detector_spark.sources.registry import read_input

        spark, pc, inp = self.spark, "lang", self.input
        with t.span("run"):  # the process's first pass, as timed by --trace 0
            out = self.run_pass()
        # the run's manifest is checked after tracing; the pass below writes
        # to its own directory
        run_dir = os.path.join(self.work, "run")
        fresh(run_dir)
        os.rename(out["pass_dir"], run_dir)
        out = {"pass_dir": run_dir}

        # Replica of run_with_manifest's steps (plans/manifest.py) through
        # public functions, in the same order, each under its own span.
        pass_dir = fresh(os.path.join(self.work, "pass"))
        mdir = os.path.join(pass_dir, "manifest")
        sid, rid = M.suite_id(self.suite), uuid.uuid4().hex[:16]
        info = {}

        def append(frame, sub):
            frame.withColumn("run_id", F.lit(rid)).withColumn("suite_id", F.lit(sid)).write.mode(
                "append"
            ).parquet(os.path.join(pass_dir, sub))

        with t.span("pass"):
            with t.span("sources.read"):
                df = read_input(spark, inp, "parquet")
            with t.span("manifest.snapshot"):
                done = M.committed_partitions(
                    M.read_manifest(spark, mdir), sid, n_checks=len(self.suite)
                ).localCheckpoint(eager=True)
                n_done = done.count()
            with t.span("manifest.pending"):
                pending = M.pending_input(df, done, pc, broadcast=n_done <= 5_000_000)
                rows_per_part = (
                    pending.groupBy(F.col(pc).cast("string").alias("partition_key"))
                    .agg(F.count(F.lit(1)).alias("n_rows"))
                    .cache()
                )
                rows_per_part.count()
                info["pending_rows"] = rows_per_part.agg(F.sum("n_rows")).collect()[0][0] or 0
            with t.span("suite.plan"):
                res = run_suite(pending, suite=self.suite, cache=False)
                viol_per_part = res.violations.groupBy("partition_key", "check_id").agg(
                    F.count(F.lit(1)).alias("n_violations")
                )
            with t.span("manifest.sink"):
                append(res.violations, "violations")
            with t.span("manifest.store.hll"):
                append(hll_sketches(pending, pc, "content"), "hll")
            with t.span("manifest.store.tdigest"):
                append(tdigest_sketches(pending, pc, "content"), "tdigest")
            with t.span("manifest.store.kmv"):
                append(
                    kmv_sketch(pending, ["repo", "path", "commit"], pc, k=256, hash_fn="xxhash64"),
                    "kmv",
                )
            with t.span("manifest.store.hist"):
                append(
                    res.per_check["drift"].hist.select(
                        "partition_key", "bucket", "n", F.current_timestamp().alias("committed_at")
                    ),
                    "hist",
                )
            with t.span("manifest.commit"):
                rows = null_safe_join(
                    res.verdicts.select("partition_key", "check_id", "verdict", "metrics"),
                    rows_per_part, ["partition_key"], "left", broadcast_right=True,
                ).transform(
                    lambda d: null_safe_join(
                        d, viol_per_part, ["partition_key", "check_id"], "left",
                        broadcast_right=True,
                    )
                )
                rows.select(
                    F.lit(rid).alias("run_id"), F.lit(sid).alias("suite_id"),
                    "partition_key", "check_id", "verdict", "metrics",
                    F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
                    F.coalesce(F.col("n_violations"), F.lit(0)).cast("long").alias("n_violations"),
                    F.lit("committed").alias("status"),
                    F.current_timestamp().alias("committed_at"),
                ).coalesce(1).write.mode("append").parquet(mdir)
            with t.span("manifest.verdict_counts"):
                res.verdicts.groupBy("verdict").agg(F.count(F.lit(1)).alias("n")).collect()
            res.unpersist()
            rows_per_part.unpersist()

        df = read_input(spark, inp, "parquet")
        with t.span("suite.materialize"):
            run_suite(df, suite=self.suite).materialize()
        rules = [s for s in self.suite if hasattr(s.fn, "_rule_builder")]
        groups = [(s.name, [s]) for s in self.suite if s not in rules] + [("rowrules", rules)]
        for name, specs in groups:
            with t.span(f"checks.{name}"):
                run_suite(df, suite=specs).materialize()
        with t.span("sources.scan"):
            full_scan(df)
        info["pending_ratio"] = info["pending_rows"] / self.n_rows
        return info, out


def full_scan(df) -> None:
    """Read every column of every row once."""
    from pyspark.sql import functions as F

    df.select(F.bit_xor(F.xxhash64(*df.columns))).collect()


def verdict_digest(rows) -> str:
    lines = sorted("|".join("" if v is None else str(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


# ---------------------------------------------------------------- media_dedup


def media_expected(n: int) -> tuple[set[tuple[int, int]], set[int]]:
    planted = {(i - 1, i) for i in range(1, n) if i % PLANT_EVERY == PLANT_EVERY - 1}
    nulls = {i for i in range(n) if i % NULL_EVERY == NULL_AT}
    return planted, nulls


def media_pixels(seed: int, mid: int) -> list[int]:
    """sha-noise grayscale pixels; planted assets copy the previous asset's
    pixels with one pixel bumped by 128."""
    src = mid - 1 if mid > 0 and mid % PLANT_EVERY == PLANT_EVERY - 1 else mid
    px: list[int] = []
    for blk in range(MEDIA_SIDE * MEDIA_SIDE // 32):
        px += hashlib.sha256(f"perfbench/{seed}/{src}/{blk}".encode()).digest()
    if src != mid:
        j = (mid * 7919) % len(px)
        px[j] = (px[j] + 128) % 256
    return px


def media_asset(seed: int, mid: int) -> tuple[str, str, bytes]:
    """(codec, declared kind, payload) of asset ``mid``."""
    from anomaly_detector_spark.operators.jpeg import encode_jpeg, encode_jpeg_progressive
    from anomaly_detector_spark.operators.multimodal import encode_bmp, encode_png

    codec = MEDIA_CODECS[mid % 4]
    enc = {"jpeg": encode_jpeg, "progressive": encode_jpeg_progressive,
           "png": encode_png, "bmp": encode_bmp}[codec]
    payload = enc(MEDIA_SIDE, MEDIA_SIDE, media_pixels(seed, mid))
    if mid % NULL_EVERY == NULL_AT:
        if codec == "bmp":
            # unsupported variant: a 32-bit BMP header (decoder: 24-bit only)
            b = bytearray(payload)
            b[28:30] = (32).to_bytes(2, "little")
            payload = bytes(b)
        else:
            payload = payload[: len(payload) // 2]  # truncated payload
    kind = "png" if codec == "png" else "bmp" if codec == "bmp" else "jpeg"
    return codec, kind, payload


class MediaDedup:
    """``phash_near_dups`` (with_dhash signatures + pigeonhole join) over a
    mixed-codec 64x64 asset table."""

    ops_per_pass = None  # one operation per asset
    warm_up = True  # warm-up pass on the warm slice, then warm timed passes

    def __init__(self, spark, work: str, n_rows: int, seed: int):
        self.spark, self.work, self.n_rows, self.seed = spark, work, n_rows, seed
        self.warm = self.input = None  # table dirs, set by measure()
        self.planted, self.nulls = media_expected(n_rows)
        self._null_ids = None

    def make(self, table: str | None, n_rows: int, seed: int) -> None:
        """Encode the assets in a small process pool and write them as
        parquet, in several files so the decode pass runs on every core."""
        import multiprocessing

        import pyarrow as pa
        import pyarrow.parquet as pq

        if table is None:  # the encoder pool leaves no state in the session
            return
        files = 12
        pool = multiprocessing.get_context("spawn").Pool(min(cores(), 4))
        try:
            assets = pool.starmap(media_asset, [(seed, i) for i in range(n_rows)], chunksize=16)
        finally:
            pool.close()
            pool.join()
        os.makedirs(table)
        for k in range(files):
            lo, hi = k * n_rows // files, (k + 1) * n_rows // files
            codec, kind, payload = zip(*assets[lo:hi])
            pq.write_table(
                pa.table({
                    "media_id": pa.array(range(lo, hi), pa.int64()),
                    "kind": pa.array(kind, pa.string()),
                    "codec": pa.array(codec, pa.string()),
                    "payload": pa.array(payload, pa.binary()),
                }),
                os.path.join(table, f"part-{k:05d}.parquet"),
            )

    def frame(self, table: str | None = None):
        from anomaly_detector_spark.sources.registry import read_input

        return read_input(self.spark, table or self.input, "parquet")

    def run_pass(self, warm: bool = False) -> dict:
        from anomaly_detector_spark.operators.multimodal import phash_near_dups

        pairs = phash_near_dups(self.frame(self.warm if warm else self.input))
        return {"pairs": {(r[0], r[1]) for r in pairs.select("media_id_a", "media_id_b").collect()}}

    def check(self, out: dict) -> tuple[int, list[str], str]:
        """Failed operations are the assets of every planted pair not found."""
        missed = sorted(self.planted - out["pairs"])
        failures = [f"planted pair {p} not found" for p in missed]
        return 2 * len(missed), failures, str(len(out["pairs"]))

    def null_ids(self) -> set[int]:
        """Ids of the input's assets whose signature is NULL (computed once)."""
        from pyspark.sql import functions as F

        from anomaly_detector_spark.operators.multimodal import with_dhash

        if self._null_ids is None:
            sigs = with_dhash(self.frame().select("media_id", "payload", "kind"))
            self._null_ids = {
                r[0] for r in sigs.filter(F.col("phash").isNull()).select("media_id").collect()
            }
        return self._null_ids

    def final_check(self) -> tuple[int, list[str]]:
        got = self.null_ids()
        wrong = len(got ^ self.nulls)
        if wrong:
            return wrong, [f"NULL signatures {len(got)} != documented NULL assets {len(self.nulls)}"]
        return 0, []

    def trace(self, t: tr.Tracer) -> tuple[dict, dict]:
        from anomaly_detector_spark.operators.multimodal import phash_near_dups

        with t.span("run"):
            out = self.run_pass()
        with t.span("pass"):
            with t.span("sources.read"):
                df = self.frame()
            with t.span("media.signature"):
                pairs = phash_near_dups(df)  # eager localCheckpoint: decode + dHash
            with t.span("media.pair_join"):
                found = pairs.select("media_id_a", "media_id_b").collect()
        with t.span("media.nulls"):
            n_null = len(self.null_ids())
        with t.span("sources.scan"):
            full_scan(self.frame())
        return {"pairs": len(found), "null_ratio": n_null / self.n_rows,
                "decode_ms": decode_sample_ms(self.seed)}, out


def decode_sample_ms(seed: int, per_codec: int = 24) -> dict[str, list[float]]:
    """In-process, single-thread ``dhash64`` wall per asset, by codec."""
    from anomaly_detector_spark.operators.multimodal import dhash64

    out: dict[str, list[float]] = {c: [] for c in MEDIA_CODECS}
    mid = 0
    while any(len(v) < per_codec for v in out.values()):
        if mid % NULL_EVERY != NULL_AT:
            codec, kind, payload = media_asset(seed, mid)
            if len(out[codec]) < per_codec:
                t0 = time.perf_counter()
                dhash64(payload, kind)
                out[codec].append((time.perf_counter() - t0) * 1000)
        mid += 1
    return out


WORKLOADS = {"batch_cold": BatchCold, "media_dedup": MediaDedup}


# ---------------------------------------------------------------- measure


def make_warm(workload: str, size: str, d: str) -> None:
    """Build (or verify) the warm-up slice ``d`` of a workload that warms up
    (its generator needs no Spark session)."""
    _n_rows, n_warm = SIZES[workload][size]
    w = WORKLOADS[workload](None, d + ".work", n_warm, WARM_SEED)
    ensure_input(d, n_warm, lambda table: w.make(table, n_warm, WARM_SEED))


def measure(a) -> dict:
    """Set up, then either time passes for ``a.seconds`` (``--trace 0``) or
    run the workload once with spans around every layer call and the event
    log on from the session's start (``--trace 1``). Every pass is checked."""
    import pyspark

    n_rows, _n_warm = SIZES[a.workload][a.size]
    event_dir = os.path.join(fresh(os.path.join(a.work, "trace")), "events") if a.trace else None
    t0 = time.perf_counter()
    spark = start_session(a.work, event_dir=event_dir)
    start_s = time.perf_counter() - t0
    w = WORKLOADS[a.workload](spark, a.work, n_rows, a.seed)
    warm_s = 0.0
    if w.warm_up:
        w.warm = parquet_dir(a.warm)
        t0 = time.perf_counter()
        w.run_pass(warm=True)
        warm_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    w.input = ensure_input(a.data, n_rows, lambda table: w.make(table, n_rows, a.seed))
    input_s = time.perf_counter() - t0
    # flush what generation wrote, so that write-back does not land inside
    # the timed passes
    os.sync()

    walls, cpus, failures, digests = [], [], [], set()
    ops = w.ops_per_pass or n_rows
    attempted = failed = peak = 0

    def check(out: dict) -> None:
        nonlocal attempted, failed
        n_bad, bad, digest = w.check(out)
        attempted, failed = attempted + ops, failed + n_bad
        failures.extend(bad)
        digests.add(digest)

    if a.trace:
        t = tracer(spark)
        with t.span("trace"):
            info, out = w.trace(t)
        run = next(s for s in t.spans if s.name == "run")
        walls.append(run.end - run.start)
        check(out)
    else:
        with PeakRss() as mem:
            deadline = time.perf_counter() + a.seconds
            while True:
                t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
                out = w.run_pass()
                walls.append(time.perf_counter() - t0)
                cpus.append(tree_cpu_s(os.getpid()) - c0)
                check(out)
                if time.perf_counter() >= deadline or not w.warm_up:
                    break
        peak = mem.peak
    if len(digests) > 1:
        failures.append(f"passes disagree on the output digest: {sorted(digests)}")
        failed += ops
    n_bad, bad = w.final_check()
    failed, failures = failed + n_bad, failures + bad
    spark.stop()

    result = {
        "workload": a.workload, "seed": a.seed, "size": a.size, "rows": n_rows,
        "cores": cores(), "spark_version": pyspark.__version__,
        "session_start_s": start_s, "warm_s": warm_s, "input_s": input_s,
        "pass_walls_s": walls, "pass_cpu_s": cpus,
        "peak_rss_bytes": peak, "attempted": attempted, "failed": failed,
        "failures": failures, "digest": sorted(digests)[0] if digests else None,
    }
    if a.trace:
        t.dump(os.path.join(a.work, "trace", "spans.json"))
        events = tr.read_event_log(os.path.join(event_dir, os.listdir(event_dir)[0]))
        result["trace"] = {
            "run_id": t.run_id, "spans": [vars(s) for s in t.spans],
            "self_s": tr.self_times(t.spans),
            "counters": tr.rollup(t.spans, tr.attribute(events, t.spans)),
            "info": info, "session_start_s": start_s, "warm_s": warm_s,
        }
    return result


def tracer(spark) -> tr.Tracer:
    """A tracer that sets the Spark job group to the innermost open span."""
    sc = spark.sparkContext

    def enter(span_id, name):
        sc.setJobGroup(span_id, name)

    def leave(parent_id, parent_name):
        if parent_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(parent_id, parent_name)

    return tr.Tracer(run_id=uuid.uuid4().hex[:12], on_enter=enter, on_exit=leave)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench-worker")
    p.add_argument("mode", choices=["warm", "measure"])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, help="measure only; the warm slice uses WARM_SEED")
    p.add_argument("--size", default="full")
    p.add_argument("--data", required=True)
    p.add_argument("--warm")
    p.add_argument("--work")
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    a = p.parse_args(argv)
    if a.mode == "warm":
        make_warm(a.workload, a.size, a.data)
        return 0
    result = measure(a)
    with open(a.out, "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
