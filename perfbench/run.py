"""Benchmark of record for anomaly_detector_spark.

    python3 perfbench/run.py --workload batch_cold --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json):

* ``batch_cold``  - the first ``cli.main`` call of a fresh process (as one
  CLI invocation runs it) over a ``synth_files`` table with the constraint
  suite, the violations sink and the HLL, t-digest, KMV and histogram
  stores, from fresh manifest and store directories;
* ``media_dedup`` - ``phash_near_dups`` over 64x64 sha-noise images in
  baseline JPEG, progressive JPEG, PNG and BMP with planted cross-codec
  near-copies and documented-NULL assets, after a warm-up pass.

Steps: for ``media_dedup``, build the warm-up slice, which does not depend
on the seed, in a separate process unless a verified copy is cached under
``.perfbench/``. Then start the measuring process (``worker.py measure``):
it starts a session and runs the warm-up pass if the workload has one
(together ``setup_s``), generates the seed's input unless a verified copy
is cached, reads it through once, and runs timed passes (``batch_cold``:
the one cold pass; ``media_dedup``: until ``--seconds`` have passed),
checking every pass's output. With ``--trace 1`` the session writes the
uncompressed event log from its start, the workload runs once with a span
around each call into a layer, and the per-layer metrics are printed
instead of the end-to-end ones.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). Exit code 0 only when
every output check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
DIGESTS = os.path.join(HERE, "digests.json")
RUN_LIMIT_S = 175  # every invocation must end inside 180 s

sys.path.insert(0, HERE)
import worker  # noqa: E402  (standard library only at import time)

ENGINE_PHASES = [
    "run", "pass", "manifest.snapshot", "manifest.pending", "suite.materialize",
    "manifest.sink", "manifest.store.hll", "manifest.store.tdigest",
    "manifest.store.kmv", "manifest.store.hist", "manifest.commit",
    "manifest.verdict_counts", "media.signature", "media.pair_join",
]
# Engine counters printed per phase. The Python-worker ones only where the
# phase crosses the Arrow boundary (elsewhere they read 0 on every run);
# spill is left out because no phase spills at these input sizes.
ENGINE_COUNTERS = {"exec_ms": "ms", "shuffle_bytes": "bytes", "jobs": "count"}
PYTHON_COUNTERS = {"py_run_ms": "ms", "py_bytes_in": "bytes"}
PYTHON_PHASES = {"run", "pass", "suite.materialize", "manifest.store.tdigest",
                 "manifest.commit", "media.signature"}
SPAN_SECONDS = [
    "sources.scan", "manifest.snapshot", "manifest.pending", "suite.materialize",
    "checks.stats", "checks.uniqueness", "checks.referential", "checks.drift",
    "checks.count_drift", "checks.rowrules", "manifest.sink", "manifest.store.hll",
    "manifest.store.tdigest", "manifest.store.kmv", "manifest.store.hist",
    "manifest.commit", "manifest.verdict_counts", "media.signature", "media.pair_join",
]
CODECS = ("jpeg", "progressive", "png", "bmp")


def end_to_end_units() -> dict[str, str]:
    return {"rows_per_s": "rows/s", "setup_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s", "session.warm_s": "s",
             "sources.input_bytes": "bytes", "sources.input_scans": "count",
             "manifest.pending_ratio": "ratio",
             "run.jobs": "count", "run.stages": "count", "run.input_scans": "count"}
    units.update({f"{name}_s": "s" for name in SPAN_SECONDS})
    for codec in CODECS:
        units[f"media.decode_ms.{codec}.p50"] = "ms"
        units[f"media.decode_ms.{codec}.p99"] = "ms"
    units.update({"media.null_ratio": "ratio", "media.pairs": "count",
                  "trace.run_s": "s", "trace.pass_s": "s", "trace.unattributed_s": "s"})
    for phase in ENGINE_PHASES:
        for counter, unit in engine_counters(phase).items():
            units[f"{phase}.{counter}"] = unit
    return units


def engine_counters(phase: str) -> dict[str, str]:
    return {**ENGINE_COUNTERS, **(PYTHON_COUNTERS if phase in PYTHON_PHASES else {})}


# ---------------------------------------------------------------- inputs


def ensure_warm(a, env: dict, log, deadline: float) -> str:
    """Dir of the warm-up slice of (workload, size). It is the same for every
    seed, so a checkout builds it once, in its own process; the seed's input
    is built by the measuring process after set-up."""
    _n_rows, n_warm = worker.SIZES[a.workload][a.size]
    d = os.path.join(CACHE, "data", f"{a.workload}-{a.size}-warm-v{worker.GEN_VERSION}")
    if not worker.is_cached(d, n_warm):
        rc = run_child(
            [sys.executable, os.path.join(HERE, "worker.py"), "warm", "--workload", a.workload,
             "--size", a.size, "--data", d],
            env, log, timeout=max(deadline - time.time(), 1),
        )
        if rc != 0 or not worker.is_cached(d, n_warm):
            raise SystemExit(f"building the warm-up slice failed (exit {rc}); see {log.name}")
    return d


# ---------------------------------------------------------------- processes


def proc_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (parent pid, state, start time) of every process."""
    table = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(p)] = (int(fields[1]), fields[0], fields[19])
    return table


def descendants(root: int, table: dict) -> set[tuple[int, str]]:
    """(pid, start time) of every descendant of ``root``."""
    found, frontier = set(), [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _state, start) in table.items():
            if ppid == parent and (pid, start) not in found:
                found.add((pid, start))
                frontier.append(pid)
    return found


def alive(procs: set[tuple[int, str]]) -> list[int]:
    table = proc_table()
    return [pid for pid, start in procs
            if pid in table and table[pid][2] == start and table[pid][1] != "Z"]


def run_child(cmd: list[str], env: dict, log, timeout: float) -> int:
    """Run ``cmd``; afterwards stop every process it started and wait for all
    of them. The Spark JVM and the PySpark daemon (which moves to its own
    process group) are found by walking the process tree while it runs."""
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
    seen: set[tuple[int, str]] = set()
    end = time.time() + timeout
    while proc.poll() is None and time.time() < end:
        seen |= descendants(proc.pid, proc_table())
        time.sleep(1.0)
    timed_out = proc.poll() is None
    # after a normal exit the JVM and the daemon get a moment to exit on their own
    for sig in ([] if timed_out else [None]) + [signal.SIGTERM, signal.SIGKILL]:
        if sig is not None:
            for pid in [proc.pid] + alive(seen):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        deadline = time.time() + 5
        while time.time() < deadline and (proc.poll() is None or alive(seen)):
            time.sleep(0.1)
        if proc.poll() is not None and not alive(seen):
            return -1 if timed_out else proc.returncode
    raise SystemExit(f"could not stop the processes of {cmd[:3]}")


def child_env() -> dict:
    env = dict(os.environ)
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        # the package must import on the Python workers too, not only here
        "PYTHONPATH": os.pathsep.join(p for p in [ROOT, env.get("PYTHONPATH", "")] if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_DRIVER_MEM": env.get("SPARK_DRIVER_MEM", "3g"),
    })
    return env


# ---------------------------------------------------------------- metrics


def recorded_digest(a, digest: str, data_dir: str) -> str | None:
    """The seed's recorded verdict digest: perfbench/digests.json when it
    lists the seed, else the digest the first run on this input recorded."""
    key = f"{a.workload}/{a.size}/{a.seed}"
    if os.path.exists(DIGESTS):
        with open(DIGESTS, encoding="utf-8") as f:
            known = json.load(f)
        if key in known:
            return known[key]
    path = os.path.join(data_dir, "digest.json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return json.load(f)["digest"]
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"digest": digest}, f)
    return digest


def end_to_end(r: dict) -> dict[str, float]:
    return {
        "rows_per_s": r["rows"] / statistics.median(r["pass_walls_s"]),
        "setup_s": r["session_start_s"] + r["warm_s"],
        "peak_rss_mb": r["peak_rss_bytes"] / 2**20,
    }


def per_layer(r: dict) -> dict[str, float]:
    t = r["trace"]
    spans = t["spans"]
    first = {}
    for s in spans:
        first.setdefault(s["name"], s)

    def dur(name: str) -> float:
        s = first.get(name)
        return s["end"] - s["start"] if s else 0.0

    def counter(name: str, key: str) -> float:
        s = first.get(name)
        return t["counters"][s["id"]][key] if s else 0.0

    info = t["info"]
    m = {
        "session.start_s": t["session_start_s"], "session.warm_s": t["warm_s"],
        "sources.input_bytes": r["input_bytes"],
        "sources.input_scans": counter("pass", "scan_records") / r["rows"],
        "manifest.pending_ratio": info.get("pending_ratio", 0.0),
        "run.jobs": counter("run", "jobs"), "run.stages": counter("run", "stages"),
        "run.input_scans": counter("run", "scan_records") / r["rows"],
        "media.null_ratio": info.get("null_ratio", 0.0),
        "media.pairs": info.get("pairs", 0),
        "trace.run_s": dur("run"), "trace.pass_s": dur("pass"),
        "trace.unattributed_s": t["self_s"][first["pass"]["id"]] if "pass" in first else 0.0,
    }
    m.update({f"{name}_s": dur(name) for name in SPAN_SECONDS})
    for codec in CODECS:
        xs = sorted(info.get("decode_ms", {}).get(codec, []))
        m[f"media.decode_ms.{codec}.p50"] = statistics.median(xs) if xs else 0.0
        m[f"media.decode_ms.{codec}.p99"] = (
            statistics.quantiles(xs, n=100, method="inclusive")[98] if len(xs) > 1 else 0.0
        )
    for phase in ENGINE_PHASES:
        for key in engine_counters(phase):
            m[f"{phase}.{key}"] = counter(phase, key)
    return m


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=["batch_cold", "media_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", default="full", choices=["full", "tiny"],
                   help="input size; 'tiny' is for the benchmark's own tests")
    a = p.parse_args(argv)
    deadline = time.time() + RUN_LIMIT_S

    if not os.path.isfile(os.path.join(ROOT, "anomaly_detector_spark", "__init__.py")):
        print(f"anomaly_detector_spark not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    env = child_env()
    tag = f"{a.workload}-{a.size}-s{a.seed}-t{a.trace}"
    os.makedirs(os.path.join(CACHE, "logs"), exist_ok=True)
    data = os.path.join(CACHE, "data", f"{a.workload}-{a.size}-s{a.seed}-v{worker.GEN_VERSION}")
    with open(os.path.join(CACHE, "logs", f"{tag}.log"), "w", encoding="utf-8") as log:
        warm = ensure_warm(a, env, log, deadline) if worker.WORKLOADS[a.workload].warm_up else ""
        # flush what earlier runs wrote, so that write-back does not land
        # inside the set-up
        os.sync()
        work = os.path.join(CACHE, "work", tag)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(work, "result.json")
        rc = run_child(
            [sys.executable, os.path.join(HERE, "worker.py"), "measure",
             "--workload", a.workload, "--seed", str(a.seed), "--size", a.size,
             "--data", data, "--warm", warm, "--work", work, "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--out", out],
            env, log, timeout=max(deadline - time.time(), 1),
        )
    if rc != 0 or not os.path.exists(out):
        print(f"measuring process failed (exit {rc}); see {log.name}", file=sys.stderr)
        return 1
    with open(out, encoding="utf-8") as f:
        r = json.load(f)
    shutil.copy(out, os.path.join(CACHE, "logs", f"{tag}.json"))
    spans = os.path.join(work, "trace", "spans.json")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(CACHE, "logs", f"{tag}.spans.json"))
    r["input_bytes"] = sum(os.path.getsize(f) for f in worker.data_files(worker.parquet_dir(data)))
    shutil.rmtree(work, ignore_errors=True)

    failures, failed = list(r["failures"]), r["failed"]
    if a.workload == "batch_cold" and r["digest"] is not None:
        want = recorded_digest(a, r["digest"], data)
        if want != r["digest"]:
            failures.append(f"verdict digest {r['digest'][:12]} != recorded {want[:12]}")
            failed = r["attempted"]
    for msg in failures:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    print(json.dumps({"info": {k: r[k] for k in (
        "workload", "seed", "size", "rows", "cores", "spark_version", "session_start_s", "warm_s",
        "input_s", "pass_walls_s", "pass_cpu_s")}}))
    values, units = (per_layer(r), per_layer_units()) if a.trace else (end_to_end(r), end_to_end_units())
    print(json.dumps({
        "correct": not failures,
        "attempted": int(r["attempted"]),
        "failed": int(min(failed, r["attempted"])),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
