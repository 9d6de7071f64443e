"""Seeded build logs and a store written in the shape of appended history.

Every log line the generator emits is either noise or exactly one
diagnostic, so the generator knows each run's event counts without
running a parser. `build_store` writes the five core tables under
`date=` partitions in the layout a store gets from one `blq run` append
per run: one parquet file per run for `runs`, `attempts`, `outcomes`
and `outputs`, and the run's events split over as many files as the
session has cores (a Spark append of a local list writes one file per
non-empty slice). `check_layout` writes one run both ways, through
`LogStore` and through `write_run`, and compares them, so a change to
the store's write layout fails a check instead of leaving the read
workload on a store that users no longer have.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from blq_cli_spark import schemas
from blq_cli_spark.sources.logparse import fingerprint_of
from blq_cli_spark.sources.store import INLINE_THRESHOLD, _b64

# source name -> (parser format, tool_name, category)
SOURCES = {
    "build": ("gcc", "gcc", "compile"),
    "test": ("pytest", "pytest", "test"),
    "lint": ("eslint", "eslint", "lint"),
    "typecheck": ("mypy", "mypy", "typecheck"),
}
_MSGS = [
    "unused variable 'tmp{n}'",
    "implicit conversion loses precision in call {n}",
    "expected ';' before '}}' token",
    "incompatible types in assignment (slot {n})",
    "possible null dereference of ptr{n}",
    "'x{n}' is assigned a value but never used",
]
_NOISE = [
    "[{n:3d}%] Building CXX object src/CMakeFiles/core.dir/mod{n}.cpp.o",
    "collecting ... {n} items",
    "Compiling crate_{n} v0.1.{n}",
    "info: processed {n} files",
    "",
]
BASE_DATE = dt.date(2026, 1, 1)


def gen_run(rng: random.Random, source: str, n_events: int, n_noise: int) -> tuple[str, list[dict]]:
    """One run's log text and its events, with log line numbers.

    gcc and mypy lines are one-line diagnostics. pytest and eslint runs
    use the same one-line gcc shape under their own tool name: the
    stored rows only need line numbers that match the stored text."""
    fmt, tool, category = SOURCES[source]
    line_fmt = "mypy" if fmt == "mypy" else "gcc"
    slot_set = set(rng.sample(range(n_events + n_noise), n_events))
    lines, events = [], []
    for i in range(n_events + n_noise):
        if i not in slot_set:
            lines.append(rng.choice(_NOISE).format(n=rng.randrange(100)))
            continue
        sev = "error" if rng.random() < 0.35 else "warning"
        msg = rng.choice(_MSGS).format(n=rng.randrange(40))
        code = f"{tool}-{rng.randrange(12)}"
        path = f"src/{source}/m{rng.randrange(30)}"
        ln, col = rng.randrange(1, 900), rng.randrange(1, 80)
        lines.append(f"{path}.py:{ln}:{col}: {sev}: {msg}  [{code}]" if line_fmt == "mypy"
                     else f"{path}.c:{ln}:{col}: {sev}: {msg}")
        events.append({
            "event_type": "diagnostic", "severity": sev,
            "ref_file": path + (".py" if line_fmt == "mypy" else ".c"),
            "ref_line": ln, "ref_column": col, "message": msg, "code": code,
            "tool_name": tool, "category": category,
            "fingerprint": fingerprint_of(tool, code, msg),
            "log_line_start": i + 1, "log_line_end": i + 1, "format_used": fmt,
        })
    return "\n".join(lines) + "\n", events


def skewed_size(rng: random.Random, mean: int) -> int:
    """Most runs small, a few large: a Pareto draw scaled to `mean`."""
    return max(1, min(int(rng.paretovariate(1.6) * mean * 0.375), mean * 12))


def _arrow_type(dtype):
    return {
        T.StringType: pa.string(), T.IntegerType: pa.int32(), T.LongType: pa.int64(),
        T.BooleanType: pa.bool_(), T.TimestampType: pa.timestamp("us", tz="UTC"),
    }.get(type(dtype)) or pa.map_(pa.string(), pa.string())


def _arrow_schema(spark_schema: T.StructType) -> pa.Schema:
    return pa.schema([
        pa.field(f.name, _arrow_type(f.dataType)) for f in spark_schema.fields if f.name != "date"
    ])


_ARROW = {
    name: _arrow_schema(s) for name, s in {
        "runs": schemas.RUNS_SCHEMA, "events": schemas.EVENTS_SCHEMA,
        "attempts": schemas.ATTEMPTS_SCHEMA, "outcomes": schemas.OUTCOMES_SCHEMA,
        "outputs": schemas.OUTPUTS_SCHEMA,
    }.items()
}


def _write(root: str, table: str, date: dt.date, name: str, rows: list[dict]) -> None:
    if not rows:
        return
    d = os.path.join(root, table, f"date={date.isoformat()}")
    os.makedirs(d, exist_ok=True)
    schema = _ARROW[table]
    cols = {f.name: [r.get(f.name) for r in rows] for f in schema}
    pq.write_table(pa.table(cols, schema=schema), os.path.join(d, f"{name}.parquet"),
                   compression="zstd")


def build_store(root: str, seed: int, n_runs: int, mean_events: int, slices: int,
                n_dates: int = 20) -> dict:
    """Write a store of `n_runs` runs, each run's events over `slices`
    files; return the generator's ground truth."""
    rng = random.Random(seed)
    truth = {"runs": {}, "sources": {}}
    sources = list(SOURCES)
    t0 = dt.datetime.combine(BASE_DATE, dt.time(8, 0))
    for serial in range(1, n_runs + 1):
        source = sources[rng.randrange(len(sources))]
        n_ev = skewed_size(rng, mean_events)
        text, events = gen_run(rng, source, n_ev, n_noise=n_ev // 2 + 5)
        write_run(root, serial, source, text, events,
                  t0 + dt.timedelta(days=(serial - 1) * n_dates // n_runs, minutes=serial), slices)
        n_err = sum(e["severity"] == "error" for e in events)
        truth["runs"][serial] = {
            "source": source, "events": len(events), "errors": n_err,
            "warnings": len(events) - n_err,
            "fingerprints": {e["fingerprint"] for e in events},
            "messages": [e["message"] for e in events],
            "lines": [e["log_line_start"] for e in events],
            "text": text,
        }
        truth["sources"][source] = serial
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "schema_version"), "w") as fh:
        fh.write(schemas.SCHEMA_VERSION)
    with open(os.path.join(root, "run_serial"), "w") as fh:
        fh.write(str(n_runs))
    return truth


def run_rows(root: str, serial: int, source: str, text: str, events: list[dict],
             ts: dt.datetime) -> dict[str, list[dict]]:
    """The rows one `blq run` of `text` stores, table by table (`date`
    included); `outputs` holds the content reference `write_output`
    would make for a store at `root`."""
    run_id = str(uuid.UUID(int=random.Random(f"run/{serial}").getrandbits(128)))
    date = ts.date()
    n_err = sum(e["severity"] == "error" for e in events)
    fmt = SOURCES[source][0]
    data = text.encode()
    digest = hashlib.sha256(data).hexdigest()
    if len(data) <= INLINE_THRESHOLD:
        kind, ref = "inline", "data:text/plain;base64," + _b64(data)
    else:
        kind, ref = "blob", os.path.join(root, "blobs", "content", digest[:2], f"{digest}.bin")
    return {
        "runs": [{
            "id": run_id, "run_serial": serial, "timestamp": ts, "duration_ms": 1000 + serial,
            "cwd": "/work", "cmd": f"make {source}", "executable": "make",
            "exit_code": 1 if n_err else 0, "format_hint": fmt, "hostname": "bench",
            "username": "bench", "source_name": source, "source_type": "run",
            "platform": "linux", "arch": "x86_64", "git_commit": f"{serial:040x}",
            "git_branch": "main", "git_dirty": False, "date": date,
        }],
        "events": [
            {**e, "id": f"{run_id}-{i}", "invocation_id": run_id, "event_index": i,
             "hostname": "bench", "date": date}
            for i, e in enumerate(events, 1)
        ],
        "attempts": [{
            "id": run_id, "started_at": ts, "cmd": f"make {source}", "cwd": "/work",
            "source_name": source, "source_type": "run", "hostname": "bench", "date": date,
        }],
        "outcomes": [{
            "attempt_id": run_id, "completed_at": ts + dt.timedelta(seconds=1),
            "duration_ms": 1000 + serial, "exit_code": 1 if n_err else 0, "timeout": False,
            "date": date,
        }],
        "outputs": [{
            "id": f"{run_id}-out", "invocation_id": run_id, "stream": "combined",
            "content_hash": digest, "byte_length": len(data), "storage_type": kind,
            "storage_ref": ref, "content_type": "text/plain", "date": date,
        }],
    }


def write_run(root: str, serial: int, source: str, text: str, events: list[dict],
              ts: dt.datetime, slices: int) -> None:
    """Write one run's rows and blob as a `blq run` append would lay them out."""
    tables = run_rows(root, serial, source, text, events, ts)
    out = tables["outputs"][0]
    if out["storage_type"] == "blob":
        os.makedirs(os.path.dirname(out["storage_ref"]), exist_ok=True)
        with open(out["storage_ref"], "wb") as fh:
            fh.write(text.encode())
    for table, rows in tables.items():
        k = min(len(rows), slices) if table == "events" else 1
        for j in range(k):
            part = rows[j * len(rows) // k:(j + 1) * len(rows) // k]
            _write(root, table, ts.date(), f"part-{serial:05d}-{j:03d}", part)


def _layout(root: str) -> dict:
    """{table/partition: number of data files}, plus the blob files."""
    out = {}
    for d, _, names in os.walk(root):
        rel = os.path.relpath(d, root)
        data = [n for n in names if n.endswith((".parquet", ".bin")) and not n.startswith(".")]
        if data:
            out[rel] = len(data)
    return out


def _rows(real, bulk, table: str) -> tuple[list[str], list[str]]:
    """The table's rows in each store (one Spark job for both) as sorted
    JSON strings, blob paths relative to their store and the output
    row's random id left out."""
    import pyspark.sql.functions as F

    both = real.table(table).withColumn("_side", F.lit(0)).unionByName(
        bulk.table(table).withColumn("_side", F.lit(1)))
    sides: tuple[list[str], list[str]] = ([], [])
    for r in both.collect():
        d = r.asDict(recursive=True)
        side = d.pop("_side")
        if table == "outputs":
            d.pop("id")
            d["storage_ref"] = d["storage_ref"].replace((real.root, bulk.root)[side], "<root>")
        sides[side].append(json.dumps(d, sort_keys=True, default=str))
    return sorted(sides[0]), sorted(sides[1])


def check_layout(spark, work: str, seed: int, slices: int) -> list[str]:
    """Write one blob-sized and one inline-sized run through the store's
    own write path (`start_attempt`, `complete_attempt`, `append_run`
    with the output) and through `write_run`; return the tables whose
    files or rows differ, or `["error: ..."]` if a write fails."""
    from blq_cli_spark.sources.store import LogStore

    real_root, bulk_root = os.path.join(work, "layout-store"), os.path.join(work, "layout-bulk")
    real, bulk = LogStore(spark, real_root), LogStore(spark, bulk_root)
    rng = random.Random(seed)
    ts = dt.datetime.combine(BASE_DATE, dt.time(9, 0))
    try:
        for serial, n_events in ((1, 120), (2, 3)):
            text, events = gen_run(rng, "build", n_events, n_noise=n_events // 2 + 5)
            rows = run_rows(real_root, serial, "build", text, events, ts)
            real.start_attempt(rows["attempts"][0])
            real.complete_attempt(rows["outcomes"][0]["attempt_id"], rows["outcomes"][0])
            real.append_run(rows["runs"][0], rows["events"], output=text)
            write_run(bulk_root, serial, "build", text, events, ts, slices)
    except Exception as exc:  # noqa: BLE001 — a failing store write is a failed check
        return [f"error: {type(exc).__name__}: {exc}"]
    real_files, bulk_files = _layout(real_root), _layout(bulk_root)
    bad = sorted({k.split(os.sep)[0] for k in real_files.keys() ^ bulk_files.keys()}
                 | {k.split(os.sep)[0] for k in real_files.keys() & bulk_files.keys()
                    if real_files[k] != bulk_files[k]})
    for t in _ARROW:
        got, want = _rows(real, bulk, t)
        if got != want and t not in bad:
            bad.append(t)
    return bad


# -- mixed-format logs for `blq run` ingest ----------------------------------

def _format_block(rng: random.Random, fmt: str) -> list[str]:
    """A few lines of one tool's real output shape."""
    n, f = rng.randrange(1, 500), rng.randrange(40)
    msg = rng.choice(_MSGS).format(n=rng.randrange(40))
    sev = "error" if rng.random() < 0.35 else "warning"
    if fmt == "gcc":
        return [f"src/core/m{f}.c:{n}:{rng.randrange(1, 80)}: {sev}: {msg}"]
    if fmt == "pytest":
        return [f"FAILED tests/test_m{f}.py::test_case_{n} - AssertionError: {msg}"]
    if fmt == "eslint":
        return [f"web/src/c{f}.js",
                f"  {n}:{rng.randrange(1, 80)}  {sev}  {msg}  no-unused-vars"]
    if fmt == "mypy":
        return [f"pkg/m{f}.py:{n}:{rng.randrange(1, 80)}: {sev}: {msg}  [assignment]"]
    if fmt == "rustc":
        return [f"{sev}[E0{rng.randrange(100, 999)}]: {msg}",
                f"  --> src/m{f}.rs:{n}:{rng.randrange(1, 80)}"]
    return [rng.choice(_NOISE).format(n=n)]


INGEST_FORMATS = ("gcc", "pytest", "eslint", "mypy", "rustc")


def gen_ingest_log(rng: random.Random, n_lines: int, dominant: str) -> str:
    """About `n_lines` of build output: 30% diagnostics, 70% of those in
    `dominant`'s shape, the rest spread over all five formats, the
    remainder noise.

    Both shares are assumptions, not measurements: no corpus of real
    build logs is at hand to take them from. A log mostly comes from one
    tool, with a few lines from others, so one format dominates. 30%
    diagnostic lines puts a 300-line log at about 90 events, a failing
    build rather than a clean one, so the parse and event-write paths
    carry real work. The shares set `events_per_s` and the parse cost,
    so they are fixed: the seed changes the content, never the mix, and
    auto-detection (and so the stored event count) stays stable."""
    out: list[str] = []
    while len(out) < n_lines:
        r = rng.random()
        if r < 0.7:
            out.append(rng.choice(_NOISE).format(n=rng.randrange(100)))
        elif r < 0.7 + 0.3 * 0.7:
            out.extend(_format_block(rng, dominant))
        else:
            out.extend(_format_block(rng, rng.choice(INGEST_FORMATS)))
    return "\n".join(out) + "\n"
