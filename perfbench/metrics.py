"""Metrics, output check and checkpoint attribution for perfbench/run.py.

Everything here reads what the harness JVM reported and what the program
wrote (warehouse parquet, the stream's checkpoint); nothing runs inside the
program under test.
"""
import hashlib
import json
import math
import statistics
from collections import Counter, namedtuple
from pathlib import Path

WORKFLOW, DEAD_LETTER, SKIP = "workflow", "dead_letter", "skip"
GATES = ("ALREADY_UPLOADED", "WORKFLOW_EXISTS", "ISBN_FOLDER_EXISTS", "DUPLICATE_IN_BATCH")

# End-to-end metrics (the ones BENCHMARK.json lists), in the order they are
# printed. Every workload prints all of them; what a "unit" of latency is
# depends on the workload (see DESIGN.md).
END_TO_END = [("setup_s", "s"), ("throughput_per_s", "1/s"), ("latency_p50_s", "s"),
              ("latency_tail_s", "s"), ("stored_bytes_per_input_byte", "ratio"),
              ("peak_rss_mb", "MB")]

CURATE_ENTRIES = ["q_bpe_merges", "q_text_tokens_learned"]

# Per-layer metrics of the traced run. Every workload prints all of them; a
# layer the workload does not exercise reads 0.
PER_LAYER = (
    [("scan.s", "s"), ("scan.files", "count"), ("scan.input_bytes", "bytes"),
     ("scan.reads_per_zip", "ratio"),
     ("explode.zip_us", "us"), ("explode.s", "s"), ("explode.entries", "count"),
     ("parse.s", "s"), ("parse.records", "count"),
     ("state.s", "s"), ("state.files", "count"), ("state.rows", "count"),
     ("gates.s", "s"), ("gates.shuffle_bytes", "bytes"),
     ("gates.history_rows_per_zip", "ratio")]
    + [(f"gates.skipped.{g}", "count") for g in GATES]
    + [("process.s", "s"),
       ("sink.raw.s", "s"), ("sink.workflow.s", "s"), ("sink.dead_letter.s", "s"),
       ("sink.rows", "count"), ("sink.files", "count"), ("sink.bytes", "bytes"),
       ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.planning_ms", "ms"), ("spark.task_time_share", "ratio"),
       ("spark.gc_ms", "ms"), ("spark.shuffle_write_bytes", "bytes"),
       ("spark.spill_bytes", "bytes"),
       ("trace.wall_s", "s"), ("trace.span_s", "s"), ("trace.gap_s", "s"),
       ("stream.batches", "count"), ("stream.zips_per_batch", "count"),
       ("stream.batch_ms", "ms"), ("stream.add_batch_ms", "ms"),
       ("stream.latest_offset_ms", "ms"), ("stream.wal_commit_ms", "ms"),
       ("stream.query_planning_ms", "ms"),
       ("stream.spark_jobs", "count"), ("stream.reads_per_zip", "ratio"),
       ("stream.stored_bytes_per_input_byte", "ratio"),
       ("gen.late_max_s", "s"), ("gen.backlog_end_zips", "count")]
    + [(f"curate.{e}.{k}", u) for e in CURATE_ENTRIES for k, u in
       (("s", "s"), ("jobs", "count"), ("task_s", "s"), ("shuffle_bytes", "bytes"),
        ("planning_ms", "ms"))]
    + [(f"trace.self_s.{l}", "s") for l in
       ("bench", "state", "scan", "explode", "parse", "gates", "process", "ingest",
        "sink", "stream", "curate")]
    + [(f"trace.e2e.{n}", u) for n, u in END_TO_END]
    + [("trace.overhead.listener_s", "s"), ("trace.overhead.forced_s", "s")])


# ---------------------------------------------------------------- percentiles

def tail(samples, p=0.99, beyond=10):
    """The p-quantile, or the highest quantile the sample supports.

    The q-quantile of n sorted samples is the one at rank ceil(q*n). It is
    reported only when at least `beyond` samples lie above that rank;
    otherwise the rank drops to n - beyond, the highest with `beyond`
    samples above it. Returns (value, quantile used, n). With n <= beyond no
    quantile is supported: the maximum is returned with quantile None.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return None, None, 0
    k = math.ceil(p * n)
    if n - k < beyond:
        k = n - beyond
    if k < 1:
        return xs[-1], None, n
    return xs[k - 1], k / n, n


# ------------------------------------------------------------ manifest check

Row = namedtuple("Row", "phase wave name isbn outcome detail bytes")
# Row counts: workflow by isbn, raw_zone by zip_name, dead_letter by
# (zip_name, error_code).
Outputs = namedtuple("Outputs", "workflow raw dead_letter")


def read_manifest(path):
    rows = []
    for line in Path(path).read_text().splitlines():
        phase, wave, name, isbn, outcome, detail, size = line.split("\t")
        rows.append(Row(phase, int(wave), name, isbn, outcome, detail, int(size)))
    return rows


def check_outputs(rows, out):
    """Compares a warehouse's sinks with the manifest rows it must reflect.

    A ZIP fails when its expected outcome is not there: a workflow ZIP needs
    exactly one workflow row for its ISBN and one raw copy; a dead-letter ZIP
    needs exactly one (zip_name, error_code) row and no raw copy; a skipped
    ZIP must add no raw copy and no dead letter. A name may appear in several
    rows (a poll wave re-landing a history ZIP), so raw copies are counted
    per name. Rows no manifest entry explains (an unexpected ISBN, raw name
    or dead letter) are failures too. Returns (names of failed ZIPs,
    unexplained rows).
    """
    want_raw = Counter(r.name for r in rows if r.outcome == WORKFLOW)
    want_wf = {r.isbn for r in rows if r.outcome == WORKFLOW}
    want_dl = {(r.name, r.detail) for r in rows if r.outcome == DEAD_LETTER}
    bad = set()
    for r in rows:
        raw_ok = out.raw.get(r.name, 0) == want_raw[r.name]
        if r.outcome == WORKFLOW:
            ok = raw_ok and out.workflow.get(r.isbn, 0) == 1
        elif r.outcome == DEAD_LETTER:
            ok = raw_ok and out.dead_letter.get((r.name, r.detail), 0) == 1
        else:
            ok = raw_ok and all(p in want_dl for p in out.dead_letter if p[0] == r.name)
        if not ok:
            bad.add(r.name)
    extra = {("workflow", i) for i in out.workflow if i not in want_wf}
    extra |= {("raw", n) for n in out.raw if n not in want_raw}
    extra |= {("dead_letter", p) for p in out.dead_letter if p not in want_dl}
    return bad, extra


def read_outputs(warehouse):
    """The three sinks of one warehouse, read with DuckDB (not Spark)."""
    import duckdb
    wh = Path(warehouse)
    con = duckdb.connect()

    def rows(zone, query):
        if not list((wh / zone).rglob("*.parquet")):
            return []
        src = f"read_parquet('{wh / zone}/**/*.parquet')"
        return con.execute(query.format(src=src)).fetchall()
    workflow = Counter(dict(rows("workflow", "SELECT isbn, count(*) FROM {src} GROUP BY isbn")))
    raw = Counter(dict(rows("raw_zone", "SELECT zip_name, count(*) FROM {src} GROUP BY 1")))
    dead = Counter({(n, c): k for n, c, k in rows(
        "dead_letter", "SELECT zip_name, error_code, count(*) FROM {src} GROUP BY 1, 2")})
    con.close()
    return Outputs(workflow, raw, dead)


def tree_bytes(path):
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


# -------------------------------------------------- checkpoint attribution

def read_source_log(source_dir):
    """zip_name -> micro-batch id, from the file source's log.

    Each file under `sources/0` is `v1` followed by one JSON entry per file
    (path, timestamp, batchId); compacted files (`<id>.compact`) repeat the
    entries of earlier batches, so the first batch an entry names wins.
    """
    batch_of = {}
    files = [p for p in Path(source_dir).iterdir()
             if p.is_file() and p.name.split(".")[0].isdigit()]
    for p in sorted(files, key=lambda p: int(p.name.split(".")[0])):
        for line in p.read_text().splitlines()[1:]:
            if line.strip():
                e = json.loads(line)
                name = e["path"].rstrip("/").rsplit("/", 1)[-1]
                batch_of.setdefault(name, int(e["batchId"]))
    return batch_of


def log_times(log_dir):
    """batch id -> modification time (epoch ms) of `<log_dir>/<id>`."""
    d = Path(log_dir)
    if not d.is_dir():
        return {}
    return {int(p.name): p.stat().st_mtime_ns / 1e6 for p in d.iterdir()
            if p.is_file() and p.name.isdigit()}


def attribute_waves(checkpoint, wave_rows, waves):
    """Per landed ZIP: the micro-batch that held it and its commit latency.

    Commit time is the mtime of `commits/<batchId>` (written after the
    batch's sinks); a batch starts at the mtime of `offsets/<batchId>`.
    Latency runs from the time the ZIP's wave was due, so a stall is charged
    to every wave that waited behind it. Returns (batch id -> latencies s of
    its ZIPs, uncommitted zip names, busy seconds of those batches).
    """
    ck = Path(checkpoint)
    batch_of = read_source_log(ck / "sources" / "0") if (ck / "sources" / "0").is_dir() else {}
    commits = log_times(ck / "commits")
    starts = log_times(ck / "offsets")
    due = {w["wave"]: w["due_ms"] for w in waves}
    lat, missing = {}, []
    for r in wave_rows:
        b = batch_of.get(r.name)
        if b is None or b not in commits:
            missing.append(r.name)
            continue
        lat.setdefault(b, []).append((commits[b] - due[r.wave]) / 1000)
    busy = sum((commits[b] - starts.get(b, commits[b])) / 1000 for b in lat)
    return lat, missing, busy


# --------------------------------------------------------- curate_llm check

def output_print(path):
    """Row count and order-insensitive content hash of a parquet output,
    read with DuckDB: the sum mod 2^64 of a SHA-256 prefix of each row's
    repr, columns in written order."""
    import duckdb
    con = duckdb.connect()
    rows = con.execute(f"SELECT * FROM read_parquet('{Path(path)}/*.parquet')").fetchall()
    con.close()
    h = sum(int.from_bytes(hashlib.sha256(repr(r).encode()).digest()[:8], "big")
            for r in rows) % 2 ** 64
    return len(rows), f"{h:016x}"


def check_entry(expected, entry, rows, digest):
    """True when an entry's output matches curate_expected.json; an entry
    recorded with hash null is checked on its row count only."""
    x = expected.get(entry)
    return x is not None and rows == x["rows"] and x["hash"] in (None, digest)


# ---------------------------------------------------------------- evaluation

def evaluate(result, launch_ms, bench_dir):
    """End-to-end metrics, output check, per-layer values and notes of a run."""
    wl = result["workload"]
    layers = dict(result.get("layers") or {})
    notes = []
    if wl == "curate_llm":
        e2e, check = _curate(result, notes, bench_dir)
    else:
        e2e, check = _ingest(result, read_manifest(result["manifest"]), notes, layers)
    e2e = {"setup_s": setup_seconds(result, launch_ms), **e2e,
           "peak_rss_mb": result["peak_rss_mb"]}
    notes.append(f"check: failed_share {check['failed']}/{check['attempted']}")
    marks = ", ".join(f"{m['name']} {(m['ms'] - launch_ms) / 1000:.2f}"
                      for m in result.get("marks", []))
    notes.append(f"setup: s after launch: {marks}")
    units = dict(END_TO_END)
    return ({k: {"value": e2e[k], "unit": units[k]} for k, _ in END_TO_END},
            check, layers, notes)


def setup_seconds(result, launch_ms):
    """Set-up is every untimed stretch that prepares a timed part: launch to
    the first timed unit, plus (on ingest) the stream's start between the
    drain and the poll. The wait for the poll's first tick is not set-up."""
    return (result["setup_end_ms"] - launch_ms + result.get("setup_extra_ms", 0.0)) / 1000


def _latency(unit_values, unit_name, notes, p50=None):
    """Median and tail of per-unit latencies; the tail rule counts units
    (calls, micro-batches, entries), not the ZIPs they hold."""
    value, q, n = tail(unit_values)
    notes.append(f"latency_tail_s: quantile {q} of {n} {unit_name} "
                 f"(None = maximum, fewer than 11 units)")
    return {"latency_p50_s": statistics.median(unit_values) if p50 is None else p50,
            "latency_tail_s": value}


def _drain(result, rows, notes):
    """The closed-loop phase: every timed runBatch call's warehouse is
    checked against the backlog; returns (call walls s, attempted, failed)."""
    zips = [r for r in rows if r.phase == "backlog"]
    attempted = failed = 0
    for rep in result["reps"]:
        bad, extra = check_outputs(zips, read_outputs(rep["warehouse"]))
        attempted += len(zips)
        failed += len(bad) + len(extra)
        if bad or extra:
            notes.append(f"check: {rep['id']}: failed {sorted(bad)[:5]} unexplained {sorted(extra)[:5]}")
    walls = [(r["end_ms"] - r["start_ms"]) / 1000 for r in result["reps"]]
    notes.append(f"runBatch walls s: {[round(w, 3) for w in walls]}")
    return walls, len(zips), attempted, failed


def _ingest(result, rows, notes, layers):
    """Throughput and stored bytes from the drain (every ZIP of a call
    commits when it returns; throughput is all the timed calls' ZIPs over
    their summed wall time); latency from the poll, whose units are
    micro-batches."""
    walls, n, attempted, failed = _drain(result, rows, notes)
    stored = statistics.median(tree_bytes(r["warehouse"]) / result["input_bytes"]
                               for r in result["reps"])
    poll_rows = [r for r in rows if r.phase != "backlog"]
    wave_rows = [r for r in poll_rows if r.phase == "wave"]
    lat, missing, _ = attribute_waves(result["checkpoint"], wave_rows, result["waves"])
    bad, extra = check_outputs(poll_rows, read_outputs(result["warehouse"]))
    attempted += len(poll_rows)
    failed += len(bad | set(missing)) + len(extra)
    if bad or extra or missing:
        notes.append(f"check: stream: failed {sorted(bad)[:5]} unexplained {sorted(extra)[:5]} "
                     f"uncommitted {len(missing)}")
    per_batch = {b: len(v) for b, v in lat.items()}
    notes.append(f"{len(per_batch)} micro-batches, zips per batch {sorted(per_batch.values())}")
    zip_lat = [x for v in lat.values() for x in v]
    layers["gen.late_max_s"] = max(w["landed_ms"] - w["due_ms"] for w in result["waves"]) / 1000
    layers["gen.backlog_end_zips"] = len(missing)
    layers["stream.zips_per_batch"] = statistics.mean(per_batch.values()) if per_batch else 0
    reads = {p["batch_id"]: p["input_rows"] for p in result.get("progress", [])}
    if reads and per_batch:
        layers["stream.reads_per_zip"] = (sum(reads.get(b, 0) for b in per_batch)
                                          / sum(per_batch.values()))
    layers["stream.stored_bytes_per_input_byte"] = (
        (tree_bytes(result["warehouse"]) - result["stored_bytes_before"]) / result["wave_bytes"])
    # The median is over ZIPs; the tail is over micro-batches (each one's
    # worst ZIP), the units that commit independently.
    return ({"throughput_per_s": n * len(walls) / sum(walls),
             **_latency([max(v) for v in lat.values()] or [0.0], "micro-batches", notes,
                        p50=statistics.median(zip_lat) if zip_lat else 0.0),
             "stored_bytes_per_input_byte": stored},
            {"attempted": attempted, "failed": failed})


def _curate(result, notes, bench_dir):
    expected = json.loads((Path(bench_dir) / "curate_expected.json").read_text())
    entries = result["entries"]
    bad = []
    for e in entries:
        rows, digest = output_print(e["output"])
        if not check_entry(expected, e["entry"], rows, digest):
            bad.append(f"{e['entry']}: rows {rows} hash {digest}")
    if bad:
        notes.append(f"check: entries not matching curate_expected.json: {bad}")
    walls = [(e["end_ms"] - e["start_ms"]) / 1000 for e in entries]
    notes.append("entry walls s: " + ", ".join(
        f"{e['pass']}/{e['entry']} {w:.2f}" for e, w in zip(entries, walls)))
    passes = {}
    for e, w in zip(entries, walls):
        passes[e["pass"]] = passes.get(e["pass"], 0.0) + w
    notes.append(f"curate_llm_s per pass: {[round(w, 3) for w in passes.values()]}")
    stored = sum(tree_bytes(e["output"]) for e in entries) / len(passes) / result["input_bytes"]
    return ({"throughput_per_s": len(entries) / sum(walls),
             **_latency(walls, "entries", notes),
             "stored_bytes_per_input_byte": stored},
            {"attempted": len(entries), "failed": len(bad)})


def per_layer_metrics(layers):
    """The per-layer metrics a traced run prints, in order; a layer the
    workload does not exercise reads 0."""
    return {name: (layers.get(name, 0.0), unit) for name, unit in PER_LAYER}
