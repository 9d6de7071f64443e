"""The two closed-loop workloads: one client, each request waits for its reply.

`agent_reads`  serve read tools against a store that does not change.
`run_ingest`   `run_command` on a child that prints a seeded log, each
               followed by a `status` read-back, so the store grows.

Each workload returns the raw figures `run.py` turns into metrics, and
its session, which `run.py` stops.
Output checks run after the timed window, on the replies it recorded.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import storegen
from procs import peak_rss_mb, tree_census

HERE = os.path.dirname(os.path.abspath(__file__))
# set-up is a fraction of a second once the JVM runs, so one host
# hiccup moves a single sample a lot: take the median of several, each
# after a collection and a short pause that lets the stopped context's
# threads wind down. The JVM launch is timed once, in the record.
SETUP_REPS = 7
SETUP_QUIET_S = 0.25

SIZES = {
    "full": {"agent_runs": 120, "agent_mean_events": 420, "history_runs": 40,
             "history_mean_events": 60, "log_lines": (80, 150, 300, 1200)},
    "smoke": {"agent_runs": 24, "agent_mean_events": 10, "history_runs": 6,
              "history_mean_events": 8, "log_lines": (20, 30, 40, 80)},
}
# one cycle of ingest logs: (lines index, dominant format); the seed
# shuffles the order and the content, never the proportions
INGEST_CYCLE = ((0, "pytest"), (1, "eslint"), (2, "gcc"), (3, "rustc"))


def open_store(store_root: str) -> tuple[float, object, object]:
    """A session (`session.get_spark`), the store on it and a first
    `has_data` job: (seconds, spark, store)."""
    from blq_cli_spark.session import get_spark
    from blq_cli_spark.sources.store import LogStore

    t0 = time.perf_counter()
    spark = get_spark(app_name="blq-perfbench")
    store = LogStore(spark, store_root)
    store.has_data()
    return time.perf_counter() - t0, spark, store


def reopen_store(spark, store_root: str, reps: int = SETUP_REPS):
    """Stop `spark` and open the store in a fresh session, `reps` times.
    Runs after the timed window, so the JVM is JIT-warm and every rep
    times the same thing. Returns (seconds per rep, spark, store)."""
    times = []
    for _ in range(reps):
        spark.stop()
        gc.collect()
        time.sleep(SETUP_QUIET_S)
        t, spark, store = open_store(store_root)
        times.append(t)
    return times, spark, store


def attempt(fn, *args, **kwargs):
    """Call one operation; an exception becomes a failed envelope, so it
    counts in `failed` and the loop goes on."""
    try:
        return fn(*args, **kwargs)
    except Exception as exc:  # noqa: BLE001 — any failure of the program under test
        return {"ok": False, "error": f"{type(exc).__name__}: {exc}"}


@contextlib.contextmanager
def traced_op(jobs, tracer, name: str):
    """A Spark job group and a span named `name` around one operation;
    nothing when `jobs` is None. Yields the group's job and task counts,
    filled in when the block ends."""
    if jobs is None:
        yield None
        return
    with jobs.group(name) as counts, tracer.span(name):
        yield counts


def alternating(i: int) -> tuple[bool, bool]:
    """Plain then traced for even `i`, traced then plain for odd: the
    second of two like operations runs on warmer caches, so alternating
    cancels that out of the overhead."""
    return (False, True) if i % 2 == 0 else (True, False)


def rounds(seconds: float, at_least: int = 1):
    """Whole rounds until `seconds` have passed and `at_least` ran."""
    t0 = time.perf_counter()
    n = 0
    while n < at_least or time.perf_counter() - t0 < seconds:
        yield
        n += 1


# -- agent_reads --------------------------------------------------------------

def agent_mix(rng: random.Random, truth: dict) -> list[tuple[str, dict]]:
    """One round: every read tool in the mix once, `events` once in each
    of its two forms (by severity and source, by run); seeded arguments
    and order. No tool is weighted above another, for want of a
    measured agent traffic mix."""
    runs = truth["runs"]
    a, b = rng.sample(sorted(runs), 2)
    e = rng.randrange(1, runs[a]["events"] + 1)
    src = rng.choice(sorted(storegen.SOURCES))
    calls = [
        ("status", {}),
        ("history", {"n": rng.choice([10, 20, 30])}),
        ("events", {"severities": ["warning"], "source": src, "limit": 20}),
        ("events", {"run_serial": b, "limit": 50}),
        ("diff", {"baseline": a, "candidate": b}),
        ("query", {"sql": f"SELECT count(*) AS n FROM events_flat WHERE source_name = '{src}'",
                   "limit": 10}),
        ("run_info", {"run_serial": a}),
        ("event", {"ref": f"{a}:{e}"}),
        ("context", {"ref": f"{a}:{e}", "lines": 2}),
        ("last", {"n_events": 20}),
    ]
    rng.shuffle(calls)
    return calls


def check_reply(tool: str, args: dict, reply: dict, truth: dict) -> bool:
    """True when the envelope is ok and its totals match the generator."""
    try:
        return _check_reply(tool, args, reply, truth)
    except (KeyError, IndexError, TypeError, ValueError):
        return False


def _check_reply(tool: str, args: dict, reply: dict, truth: dict) -> bool:
    if not reply.get("ok"):
        return False
    res, runs = reply["result"], truth["runs"]
    latest = max(runs)
    if tool == "status":
        return {r["source_name"]: (r["ref"], r["n_errors"]) for r in res} == {
            s: (f"~{n}", runs[n]["errors"]) for s, n in truth["sources"].items()}
    if tool == "history":
        want = list(range(latest, max(latest - args["n"], 0), -1))
        return [r["run_serial"] for r in res] == want and all(
            r["n_events"] == runs[r["run_serial"]]["events"] for r in res)
    if tool == "events":
        if "run_serial" in args:
            total = runs[args["run_serial"]]["events"]
        else:
            total = sum(r["warnings"] for r in runs.values() if r["source"] == args["source"])
        return res["total_count"] == total and len(res["events"]) == min(total, args["limit"])
    if tool == "diff":
        fa, fb = runs[args["baseline"]]["fingerprints"], runs[args["candidate"]]["fingerprints"]
        got = sorted((r["change"], r["fingerprint"]) for r in res)
        want = sorted([("new", f) for f in fb - fa] + [("fixed", f) for f in fa - fb]
                      + [("unchanged", f) for f in fa & fb])
        return got == want
    if tool == "query":
        src = args["sql"].rsplit("'", 2)[1]
        return res == [{"n": sum(r["events"] for r in runs.values() if r["source"] == src)}]
    if tool == "run_info":
        r = runs[args["run_serial"]]
        return (res["run_serial"], res["n_events"], res["n_errors"]) == (
            args["run_serial"], r["events"], r["errors"])
    if tool == "event":
        serial, idx = map(int, args["ref"].split(":"))
        return (res["run_serial"], res["event_index"], res["message"]) == (
            serial, idx, runs[serial]["messages"][idx - 1])
    if tool == "context":
        serial, idx = map(int, args["ref"].split(":"))
        line_no = runs[serial]["lines"][idx - 1]
        text = runs[serial]["text"].split("\n")
        hits = [r for r in res["lines"] if r["is_event"]]
        return len(hits) == 1 and hits[0]["line"] == text[line_no - 1] and all(
            r["line"] == text[r["line_number"] - 1] for r in res["lines"])
    if tool == "last":
        want = runs[latest]["messages"][:args["n_events"]]
        return res["run"]["run_serial"] == latest and [e["message"] for e in res["events"]] == want
    return False


def _returned_events(tool: str, reply: dict) -> int:
    if not reply.get("ok"):
        return 0
    if tool in ("events", "last"):
        return len(reply["result"]["events"])
    return 1 if tool == "event" else 0


def agent_reads(args, work: str, tracer=None) -> tuple[dict, object]:
    from blq_cli_spark import serve

    size = SIZES["smoke" if args.smoke else "full"]
    root = os.path.join(work, "store")
    slices = int(os.environ["SPARK_GRAFT_CPUS"])
    t0 = time.perf_counter()
    truth = storegen.build_store(root, args.seed, size["agent_runs"], size["agent_mean_events"],
                                 slices)
    build_s = time.perf_counter() - t0
    files, nbytes = tree_census(root)
    launch_s, spark, store = open_store(root)

    rng = random.Random(args.seed * 7919 + 1)
    t_warm = time.perf_counter()
    for tool, targs in agent_mix(rng, truth):  # warm-up round, not timed
        attempt(serve.dispatch, store, tool, targs)
    t_window = time.perf_counter()

    calls: list[tuple[str, dict, dict, float]] = []
    for _ in rounds(args.seconds):
        for tool, targs in agent_mix(rng, truth):
            t0 = time.perf_counter()
            reply = attempt(serve.dispatch, store, tool, targs)
            calls.append((tool, targs, reply, time.perf_counter() - t0))

    t_end = time.perf_counter()
    layers = {}
    if tracer is not None:
        layers = _traced_replay(spark, store, calls, tracer)
        layers.update(cli_layers(root))
    t_layout = time.perf_counter()
    layout_diff = storegen.check_layout(spark, work, args.seed, slices)
    layout_s = time.perf_counter() - t_layout
    setup_times, spark, store = reopen_store(spark, root)

    bad = [[t, a] for t, a, r, _ in calls if not check_reply(t, a, r, truth)]
    if layers.pop("_cli_failed", 0):
        bad.append(["cli status", {}])
    if layout_diff:
        bad.append(["store layout differs", layout_diff])
    failed = len(bad)
    ms = [c[3] * 1e3 for c in calls]
    out = {
        "attempted": len(calls) + 1 + (1 if tracer is not None else 0),
        "failed": failed,
        "setup_times": setup_times,
        "op_ms": ms,
        "op_tools": [c[0] for c in calls],
        # the tools' limits fix how many events a round returns, so here
        # events_per_s is op_mean_ms read as a throughput, not a new signal
        "events_per_s": sum(_returned_events(t, r) for t, _, r, _ in calls) / (sum(ms) / 1e3),
        "layers": {"sources.store.files": files, "sources.store.bytes": nbytes,
                   "proc.peak_rss_mb": peak_rss_mb(spark), **layers},
        "record": {"failed_checks": bad, "store_build_s": build_s, "launch_s": launch_s,
                   "warmup_s": t_window - t_warm, "window_s": t_end - t_window,
                   "layout_check_s": layout_s,
                   "store_runs": len(truth["runs"]),
                   "store_events": sum(r["events"] for r in truth["runs"].values())},
    }
    return out, spark


def _traced_replay(spark, store, calls, tracer) -> dict:
    """Replay the window's calls, each once plain and once with spans
    and a job group (alternating which goes first); return the per-layer
    figures and the tracing overhead, traced minus plain mean latency."""
    from blq_cli_spark import serve
    from spans import JobCounter

    jobs = JobCounter(spark)
    per_call, ms = [], {False: [], True: []}
    for i, (tool, targs, _, _) in enumerate(calls):
        for traced in alternating(i):
            if traced:
                _wrap_read_layers(tracer)
            try:
                t0 = time.perf_counter()
                with traced_op(jobs if traced else None, tracer, f"serve.{tool}") as counts:
                    attempt(serve.dispatch, store, tool, targs)
                ms[traced].append((time.perf_counter() - t0) * 1e3)
            finally:
                tracer.restore()
            if traced:
                per_call.append(counts)
    layers = {
        f"serve.{t}.p50_ms": statistics.median(tracer.durations_ms(f"serve.{t}"))
        for t in {c[0] for c in calls}
    }
    n = len(per_call)
    layers["spark.jobs_per_call"] = sum(c["jobs"] for c in per_call) / n
    layers["spark.tasks_per_call"] = sum(c["tasks"] for c in per_call) / n
    layers["sources.store.table_ms_per_call"] = sum(tracer.durations_ms("sources.store.table")) / n
    layers["trace.overhead_ms"] = statistics.fmean(ms[True]) - statistics.fmean(ms[False])
    return layers


def _wrap_read_layers(tracer) -> None:
    from blq_cli_spark import services
    from blq_cli_spark.operators import views
    from blq_cli_spark.sources.store import LogStore

    for fn in ("query_events", "history_with_counts", "resolve_ref", "get_output", "ci_check"):
        tracer.wrap(services, fn, f"services.{fn}")
    for fn in ("load_events", "load_runs", "load_source_status", "diff_fingerprints", "history"):
        tracer.wrap(views, fn, f"operators.views.{fn}")
    for fn in ("table", "register_views"):
        tracer.wrap(LogStore, fn, f"sources.store.{fn}")


def cli_layers(store_root: str) -> dict:
    """One cold `blq-spark status` in a subprocess, timed layer by layer
    by `cli_driver.py`; its exit code and table header are checked."""
    timings = os.path.join(os.path.dirname(store_root), "cli_timings.json")
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "cli_driver.py"), timings,
         "--store", store_root, "status"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=90,
    )
    ok = proc.returncode == 0 and "source_name" in proc.stdout and os.path.exists(timings)
    layers = {"cli.stderr_bytes": len(proc.stderr.encode()), "_cli_failed": 0 if ok else 1}
    if os.path.exists(timings):
        with open(timings) as fh:
            t = json.load(fh)
        layers.update({k: t[k] for k in ("cli.import_s", "session.get_spark_s", "cli.main_s")})
    return layers


# -- run_ingest ---------------------------------------------------------------

def _git_workspace(ws: str) -> None:
    os.makedirs(ws, exist_ok=True)
    with open(os.path.join(ws, "README"), "w") as fh:
        fh.write("perfbench workspace\n")
    if shutil.which("git") is None:
        return
    git = ["git", "-c", "user.name=perfbench", "-c", "user.email=perfbench@localhost"]
    for cmd in (["init", "-q"], ["add", "README"], ["commit", "-q", "-m", "init"]):
        subprocess.run(git + cmd, cwd=ws, check=True, capture_output=True)


def run_ingest(args, work: str, tracer=None) -> tuple[dict, object]:
    from blq_cli_spark import serve
    from blq_cli_spark.sources import execution, logparse

    size = SIZES["smoke" if args.smoke else "full"]
    root, ws, logs = (os.path.join(work, d) for d in ("store", "ws", "logs"))
    os.makedirs(logs)
    t0 = time.perf_counter()
    _git_workspace(ws)
    storegen.build_store(root, args.seed, size["history_runs"], size["history_mean_events"],
                         int(os.environ["SPARK_GRAFT_CPUS"]))
    build_s = time.perf_counter() - t0
    files0, bytes0 = tree_census(root)
    launch_s, spark, store = open_store(root)

    rng = random.Random(args.seed * 7919 + 2)
    runs: list[dict] = []

    def one_run(store, pos: int, dominant: str, timed: bool, jobs=None) -> None:
        """One `blq run` and its read-back; traced when `jobs` is given."""
        text = storegen.gen_ingest_log(rng, size["log_lines"][pos], dominant)
        path = os.path.join(logs, f"log-{len(runs):04d}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        source = f"job-{pos}"
        if jobs is not None:
            _wrap_write_layers(tracer)
        try:
            t0 = time.perf_counter()
            with traced_op(jobs, tracer, "sources.execution.run_command") as run_jobs:
                row = attempt(execution.run_command, store, ["cat", path], source_name=source,
                              fmt="auto", cwd=ws)
            t1 = time.perf_counter()
            with traced_op(jobs, tracer, "serve.status") as call_jobs:
                reply = attempt(serve.dispatch, store, "status")
            t2 = time.perf_counter()
        finally:
            if jobs is not None:
                tracer.restore()
        runs.append({"text": text, "source": source, "row": row, "reply": reply,
                     "run_s": t1 - t0, "readback_s": t2 - t1, "timed": timed,
                     "run_jobs": run_jobs, "call_jobs": call_jobs})

    def cycle_order() -> list[tuple[int, str]]:
        order = list(INGEST_CYCLE)
        rng.shuffle(order)
        return order

    t_warm = time.perf_counter()
    for pos, dominant in cycle_order():  # warm-up cycle
        one_run(store, pos, dominant, timed=False)
    t_window = time.perf_counter()
    for _ in rounds(args.seconds):
        for pos, dominant in cycle_order():
            one_run(store, pos, dominant, timed=True)
    t_end = time.perf_counter()

    layers = {}
    if tracer is not None:
        # one more cycle, each log size twice: once plain and once traced,
        # on two logs of the same size and dominant format
        from spans import JobCounter

        jobs, n0, (f1, b1) = JobCounter(spark), len(runs), tree_census(root)
        for i, (pos, dominant) in enumerate(cycle_order()):
            for traced in alternating(i):
                one_run(store, pos, dominant, timed=False, jobs=jobs if traced else None)
        f2, b2 = tree_census(root)
        pairs = runs[n0:]
        layers = _ingest_layers(tracer, [r for r in pairs if r["run_jobs"] is not None])
        layers["sources.store.files_per_run"] = (f2 - f1) / len(pairs)
        layers["sources.store.bytes_per_log_byte"] = (b2 - b1) / sum(
            len(r["text"].encode()) for r in pairs)
        layers["trace.overhead_ms"] = statistics.fmean(
            r["run_s"] * 1e3 for r in pairs if r["run_jobs"] is not None) - statistics.fmean(
            r["run_s"] * 1e3 for r in pairs if r["run_jobs"] is None)
    setup_times, spark, store = reopen_store(spark, root)

    failed = _check_ingest(store, runs, logparse)
    timed = [r for r in runs if r["timed"]]
    stored = sum(r["stored"] for r in timed)
    out = {
        "attempted": len(runs),
        "failed": failed,
        "setup_times": setup_times,
        "op_ms": [r["run_s"] * 1e3 for r in timed],
        "readback_ms": [r["readback_s"] * 1e3 for r in timed],
        "events_per_s": stored / sum(r["run_s"] for r in timed),
        "layers": {"sources.store.files": files0, "sources.store.bytes": bytes0,
                   "proc.peak_rss_mb": peak_rss_mb(spark), **layers},
        "record": {"store_build_s": build_s, "launch_s": launch_s,
                   "warmup_s": t_window - t_warm,
                   "window_s": t_end - t_window, "runs_ingested": len(runs),
                   "events_stored": stored},
    }
    return out, spark


def _wrap_write_layers(tracer) -> None:
    from blq_cli_spark.sources import execution, locks, logparse
    from blq_cli_spark.sources.store import LogStore

    tracer.wrap(execution.LocalExecutor, "execute", "ext.execute")
    tracer.wrap(logparse, "parse_content", "sources.logparse.parse_content")
    tracer.wrap(execution, "_git_context", "sources.execution.git_context")
    tracer.wrap(locks, "acquire_lock_wait", "sources.locks.acquire")
    for fn in ("start_attempt", "complete_attempt", "append_run", "write_output", "_append"):
        tracer.wrap(LogStore, fn, f"sources.store.{fn}")


def _ingest_layers(tracer, traced: list[dict]) -> dict:
    """Per-layer figures of the traced runs, from their spans and job groups."""
    def med(name: str, self_time: bool = False) -> float:
        return statistics.median(tracer.durations_ms(name, self_time))

    def per_run(name: str) -> float:
        return sum(tracer.durations_ms(name)) / len(traced)

    return {
        "ext.execute_ms": med("ext.execute"),
        "sources.logparse.parse_content_ms": med("sources.logparse.parse_content"),
        **{f"sources.store.{fn}_ms": med(f"sources.store.{fn}", self_time=True)
           for fn in ("start_attempt", "complete_attempt", "append_run", "write_output")},
        "sources.store.append_ms_per_run": per_run("sources.store._append"),
        "sources.locks.acquire_ms_per_run": per_run("sources.locks.acquire"),
        "sources.execution.git_context_ms": med("sources.execution.git_context"),
        "serve.status.p50_ms": med("serve.status"),
        "spark.jobs_per_run": sum(r["run_jobs"]["jobs"] for r in traced) / len(traced),
        "spark.jobs_per_call": sum(r["call_jobs"]["jobs"] for r in traced) / len(traced),
        "spark.tasks_per_call": sum(r["call_jobs"]["tasks"] for r in traced) / len(traced),
    }


def _check_ingest(store, runs: list[dict], logparse) -> int:
    """Stored event count equals `parse_content`'s, serials strictly
    increase, and each read-back shows the run just stored."""
    import pyspark.sql.functions as F

    stored = {r["invocation_id"]: r["n"] for r in store.events().groupBy("invocation_id")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    failed, last = 0, 0
    for r in runs:
        row, reply = r["row"], r["reply"]
        r["stored"] = stored.get(row.get("id"), 0)
        try:
            ok = (r["stored"] == len(logparse.parse_content(r["text"], "auto"))
                  and row["run_serial"] > last and reply["ok"]
                  and any(s["source_name"] == r["source"] and s["ref"] == f"~{row['run_serial']}"
                          for s in reply["result"]))
            last = row["run_serial"]
        except (KeyError, TypeError):
            ok = False
        failed += not ok
    return failed


WORKLOADS = {"agent_reads": agent_reads, "run_ingest": run_ingest}
