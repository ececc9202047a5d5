#!/usr/bin/env python3
"""Engine benchmark: one workload, one run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 4 --trace 0

The inputs are the engine's fixture tables shipped under
``perfbench/fixture/`` (see ``tier.py``); the relational workload's 10x
tier is derived from them outside every timed region and reused while
its row counts check out. The seed only orders the warm passes. A run
computes the DuckDB oracle's answers (cached per tier, query list and
engine source), then starts fresh worker processes (``worker.py``): one
that only starts a session, and one that starts a session, warms the
readers up (loads and scans the workload's tables), runs a cold pass
over the workload's queries, one uncounted warm-up pass and warm passes
(query order shuffled by the seed) for ``--seconds``, at least three,
checking outputs outside the
timed regions. Each worker gets the repository root on ``PYTHONPATH``,
private temporary and Spark local directories and a working directory
under ``.perfbench/``, all deleted afterwards.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it is a
detail record: host context, the passes' wall times, per-query and
per-module medians and every failure.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tier  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SESSION_STARTS = 2  # per untraced run: SESSION_STARTS - 1 session-only workers + the workload worker
DEADLINE_S = 170  # the whole run, tier preparation and oracle included


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _engine_digest(root: str) -> str:
    """Digest of the engine's source and of the row canonicalisation the
    output check imports from the tests."""
    paths = [os.path.join(root, "tests", "test_correctness.py")]
    for d, dirs, files in os.walk(os.path.join(root, "pydra_map_reduce_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    h = hashlib.sha1()
    for path in sorted(paths):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _git_commit(root: str) -> str | None:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def become_subreaper() -> None:
    """Adopt orphaned descendants (Linux), so that ``_kill_session`` can
    reap them instead of leaving zombies to init."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def _kill_session(sid: int, timeout: float = 20.0) -> None:
    """Kill every process of session ``sid``, reap them, and wait until
    none is left, zombies included.

    The session, not the process group: PySpark's Python worker daemon
    moves itself and its workers into a process group of their own.
    """
    # a TERM now would cut the clean-up short; it is delivered after it
    blocked = signal.pthread_sigmask(signal.SIG_BLOCK, {signal.SIGTERM})
    try:
        _kill_and_reap(sid, timeout)
    finally:
        signal.pthread_sigmask(signal.SIG_SETMASK, blocked)


def _kill_and_reap(sid: int, timeout: float) -> None:
    t_end = time.monotonic() + timeout
    while time.monotonic() < t_end:
        _reap()
        left = []
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid:
                left.append(int(pid))
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    print(f"processes of session {sid} still alive after {timeout}s", file=sys.stderr)


def _spawn(root: str, run_dir: str, spec: dict, tag: str, deadline: float) -> dict | None:
    """Run one worker in a fresh process; its result dict, or None if it
    died or overran the deadline. Every process it started is killed."""
    spec = dict(spec, out=os.path.join(run_dir, f"{tag}.json"))
    spec_path = os.path.join(run_dir, f"{tag}.spec.json")
    env = dict(os.environ)
    env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")
    env["TMPDIR"] = os.path.join(run_dir, f"tmp-{tag}")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, f"local-{tag}")
    # the JVM's own temporary files (native libraries, spark-* dirs) too,
    # and no hsperfdata file, which the JVM always puts under /tmp
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(run_dir, f"jvmtmp-{tag}"),
    )))
    env["SPARK_GRAFT_CPUS"] = str(spec["nproc"])
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONHASHSEED"] = "0"  # the same set/dict order, hence the same work, in every run
    for d in ("tmp", "local", "jvmtmp"):
        os.makedirs(os.path.join(run_dir, f"{d}-{tag}"))
    log_path = os.path.join(run_dir, f"{tag}.log")
    with open(log_path, "w") as log:
        spec["t_spawn"] = time.monotonic()
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            print(f"worker {tag} overran the deadline; killing it", file=sys.stderr)
        finally:
            _kill_session(proc.pid)  # the JVM and the Python workers too
            proc.wait()
    try:
        with open(spec["out"]) as f:
            return json.load(f)
    except (OSError, ValueError):
        with open(log_path) as f:
            sys.stderr.write(f"worker {tag} produced no result; log tail:\n{f.read()[-3000:]}\n")
        return None


def _warm(passes: list[dict]) -> list[dict]:
    return [p for p in passes if p["label"] not in ("cold", "warmup")]


def _pass_sum(p: dict, field: str, names=None) -> float:
    return sum(
        q[field] or 0.0 for q in p["queries"] if names is None or q["query"] in names
    )


def end_to_end(starts: list[float], res: dict) -> dict:
    """``setup_s`` is the median session start of the run's fresh
    processes plus the workload worker's reader warm-up (wall time). The
    passes are measured in CPU seconds of the worker's session,
    which time stolen by other tenants of the host does not inflate;
    their wall times are in the detail record."""
    passes = res["passes"]
    return {
        "setup_s": (
            _median(starts) + res["setup_parts"]["sources.load"] + res["setup_parts"]["sources.scan"],
            "s",
        ),
        "cold_pass_cpu_s": (passes[0]["cpu"], "s"),
        "warm_pass_cpu_s": (_median([p["cpu"] for p in _warm(passes)]), "s"),
        "peak_rss_mb": (sum((res["peak_rss_parts_mb"] or {}).values()), "MB"),
    }


def wall_times(res: dict) -> dict:
    passes = res["passes"]
    warm = _warm(passes)
    return {
        "cold_pass_s": passes[0]["wall"],
        "warm_pass_s": _median([p["wall"] for p in warm]),
        "query_p50_s": _median([
            q["build"] + q["exec"] for p in warm for q in p["queries"] if q["exec"] is not None
        ]),
        "warm_pass_walls_s": [p["wall"] for p in warm],
    }


def per_layer(res: dict) -> dict:
    passes = res["passes"]
    cold = passes[0]
    warm = _warm(passes)
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    m = {f"{k}_s": (v, "s") for k, v in res["setup_parts"].items()}
    m["plans.build_s"] = (_median([_pass_sum(p, "build") for p in traced]), "s")
    m["plans.build_cold_s"] = (_pass_sum(cold, "build"), "s")
    m["exec.run_s"] = (_median([_pass_sum(p, "exec") for p in traced]), "s")
    m["exec.run_cold_s"] = (_pass_sum(cold, "exec"), "s")
    for c in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"exec.{c}"] = (_median([_pass_sum(p, c) for p in traced]), "count")
    m["exec.cold_extra_jobs"] = (_pass_sum(cold, "jobs") - m["exec.jobs"][0], "count")
    m["io.bytes_written"] = (res["io_bytes"], "bytes")
    # self time of the spans that have children: what the benchmark's
    # own loop (and, on a query, the job-group bookkeeping) costs
    # around the engine calls
    spans = res["spans"]
    warm_labels = {p["label"] for p in traced}
    pass_ids = {s["id"] for s in spans if s["name"] == "pass" and s["trace_id"] in warm_labels}
    m["setup.self_s"] = (sum(s["self"] for s in spans if s["name"] == "setup"), "s")
    m["pass.self_s"] = (_median([s["self"] for s in spans if s["id"] in pass_ids]), "s")
    m["query.self_s"] = (
        _median([s["self"] for s in spans if s["name"] == "query" and s["parent"] in pass_ids]),
        "s",
    )
    # the traced warm passes' median minus the untraced ones'
    m["trace.overhead_s"] = (
        _median([p["wall"] for p in traced]) - _median([p["wall"] for p in untraced]), "s"
    )
    return m


def per_module(res: dict) -> dict:
    """Warm-pass build and execution time per plans module (median per
    pass). A module one workload never touches would read a constant 0,
    so this split goes to the detail record, not the per-layer metrics."""
    warm = _warm(res["passes"])
    out = {}
    for mod in sorted(set(res["modules"].values())):
        names = {n for n, m in res["modules"].items() if m == mod}
        out[mod] = {
            f"{field}_s": _median([_pass_sum(p, field, names) for p in warm])
            for field in ("build", "exec")
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--base", choices=sorted(os.listdir(tier.FIXTURE)),
        help="fixture tier to run on instead of the workload's own (the self-test uses sf0.001)",
    )
    args = ap.parse_args()
    # a TERM unwinds through _spawn's finally, which kills the worker's session
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    become_subreaper()
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S

    root = os.getcwd()
    for need in ("pydra_map_reduce_spark/session.py", "tools/build_stress_tier.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"no {need} under {root}; run from the repository root", file=sys.stderr)
            return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench")
    nproc = len(os.sched_getaffinity(0))

    base = args.base or wl.base
    t0 = time.monotonic()
    tier_dir = (
        tier.ensure_shifted(root, work, base, wl.copies) if wl.copies > 1 else tier.fixture(base)
    )
    tier_s = time.monotonic() - t0

    sys.path.insert(0, root)
    from oracle import oracle_answers

    t0 = time.monotonic()
    digest = _engine_digest(root)
    answers = oracle_answers(tier_dir, wl.queries, os.path.join(work, "oracle"), digest)
    oracle_s = time.monotonic() - t0

    spec = {
        "answers": answers, "tier": tier_dir, "tables": list(wl.tables), "queries": list(wl.queries),
        "seed": args.seed, "seconds": args.seconds, "trace": bool(args.trace),
        "nproc": nproc,
    }
    load_before = os.getloadavg()
    run_dir = tempfile.mkdtemp(prefix="run-", dir=work)
    try:
        starts = []
        for i in range(0 if args.trace else SESSION_STARTS - 1):
            r = _spawn(root, run_dir, dict(spec, setup_only=True), f"session{i}", deadline)
            if r is None:
                return 1
            starts.append(r["setup_parts"]["session.start"])
        res = _spawn(root, run_dir, dict(spec, setup_only=False), "workload", deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_after = os.getloadavg()
    if res is None:
        return 1
    starts.append(res["setup_parts"]["session.start"])

    failures = res["failures"]
    if res["jvm_dead"]:
        failures.append({"query": "*", "phase": "jvm", "error": "JVM died; remaining queries not run"})
    attempted = res["attempted"]
    failed = len(failures)
    warm = _warm(res["passes"])

    def _q(passes, n, field):
        return _median([q[field] for p in passes for q in p["queries"]
                        if q["query"] == n and q[field] is not None])

    per_query = {
        n: {
            "cold_build_s": _q(res["passes"][:1], n, "build"),
            "cold_exec_s": _q(res["passes"][:1], n, "exec"),
            "build_s": _q(warm, n, "build"),
            "exec_s": _q(warm, n, "exec"),
            "warm_s": [
                q["build"] + q["exec"] for p in warm for q in p["queries"]
                if q["query"] == n and q["exec"] is not None
            ],
        }
        for n in wl.queries
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tier": os.path.relpath(tier_dir, root), "tier_prep_s": tier_s,
        "oracle_s": oracle_s,
        "host": {
            "nproc": nproc, "loadavg_before": load_before, "loadavg_after": load_after,
            "contended": load_before[0] >= nproc,
            "git_commit": _git_commit(root), "engine_digest": digest,
        },
        "run_wall_s": time.monotonic() - t_start, "session_start_samples_s": starts,
        "setup_parts_s": res["setup_parts"], "peak_rss_parts_mb": res["peak_rss_parts_mb"],
        "wall": wall_times(res), "warm_pass_cpus_s": [p["cpu"] for p in warm], "error_rate": failed / max(1, attempted),
        "failures": failures, "per_module": per_module(res), "per_query": per_query,
    }
    if args.trace:
        metrics = per_layer(res)
        trace_dir = os.path.join(work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(res["spans"], f)
        detail["trace_file"] = os.path.relpath(trace_path, root)
    else:
        metrics = end_to_end(starts, res)
    print(json.dumps(detail, separators=(",", ":")))
    print(json.dumps({
        "correct": failed == 0 and not res["jvm_dead"],
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
