"""The ``codec`` workload: ingest a seeded code corpus, then read it back.

Set-up, untimed, is the session's first ``encode`` of the base and
first ``encode_append`` of the batch, into a table of its own: it pays
the Python-worker start and plan compilation of the write path, and its
CPU time is the run's ``setup_s``.  One timed pass is then one user
session on the storage engine, a closed loop with a single client:

  encode -> append -> compact -> vacuum -> scan -> lookup

on a fresh table.  Each pass's encode must store the same bytes per
column as the set-up encode.  Passes repeat while the next one is
expected to end within ``seconds`` (at least one).  Every op's result
is checked (see ``check_*``) outside the op walls.  The typed side
table is only used by the traced kernel replay (``replay.py``), which
covers the int/float codecs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import inputs
from tracing import Recorder, Tracer, log, median, tree_cpu_s, wrap_attr

CORPUS_MB = 10.0
TYPED_ROWS = 40_000
N_LOOKUPS = 1
SHARDS = 4
OPS = ("encode", "append", "compact", "vacuum", "scan", "lookup")
# ops whose CPU makes ``pass_cpu_s``: the data path.  vacuum and the
# lookup are file listing and Spark job overhead with almost no kernel
# work; they are timed, checked and reported on the detail line.
DATA_OPS = ("encode", "append", "compact", "scan")
TYPED_KEY = ("site", "sensor")


@dataclass
class Inputs:
    base: str
    batch: str
    full: str
    typed: str
    rows: int
    base_raw: int
    batch_raw: int
    full_raw: int
    typed_rows: int
    target_rows: int
    lookups: list[str]
    expected: dict[str, list[tuple]]  # commit -> sorted row digests


def row_digest(repo, path, commit, lang, content) -> tuple:
    body = hashlib.sha256(content.encode("utf-8")).hexdigest() if content is not None else None
    return (repo, path, commit, lang, body)


def prepare(seed: int, work: str) -> Inputs:
    """Generate and write every input of one run under ``work``."""
    root = os.path.join(work, "inputs")
    if os.path.exists(root):
        shutil.rmtree(root)
    df = inputs.code_corpus(seed, CORPUS_MB)
    base, batch = inputs.split_base_append(df)
    typed = inputs.typed_table(seed, TYPED_ROWS)
    paths = {
        name: inputs.write_shards(frame, os.path.join(root, name), SHARDS)
        for name, frame in (("base", base), ("batch", batch), ("full", df), ("typed", typed))
    }
    rng = np.random.default_rng(seed + 3)
    picks = rng.choice(len(df), size=N_LOOKUPS, replace=False)
    commits = [str(df["commit"].iloc[i]) for i in picks]
    wanted = set(commits)
    expected: dict[str, list[tuple]] = {}
    for row in df[df["commit"].isin(wanted)].itertuples(index=False):
        expected.setdefault(row.commit, []).append(
            row_digest(row.repo, row.path, row.commit, row.lang, row.content)
        )
    cols = inputs.CODE_COLUMNS
    return Inputs(
        base=paths["base"], batch=paths["batch"], full=paths["full"], typed=paths["typed"],
        rows=len(df),
        base_raw=inputs.raw_bytes(base, cols), batch_raw=inputs.raw_bytes(batch, cols),
        full_raw=inputs.raw_bytes(df, cols),
        typed_rows=typed.num_rows,
        target_rows=max(250, len(base) // 16),
        lookups=commits,
        expected={c: sorted(v) for c, v in expected.items()},
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def block_stats(out_dir: str) -> dict:
    """Per-column stored bytes and per-codec block counts, from the
    blocks parquet (every block is active after compact + vacuum)."""
    tbl = pq.read_table(
        os.path.join(out_dir, "blocks"), columns=["column", "codec", "enc_bytes", "raw_bytes"]
    ).to_pandas()
    return {
        "bytes": {str(k): int(v) for k, v in tbl.groupby("column")["enc_bytes"].sum().items()},
        "blocks": {str(k): int(v) for k, v in tbl.groupby("codec").size().items()},
        "enc": int(tbl["enc_bytes"].sum()),
        "raw": int(tbl["raw_bytes"].sum()),
    }


def one_pass(spark, inp: Inputs, table: str, rec: Recorder) -> dict:
    """Every op once, on a fresh table directory ``table``."""
    from deltoid_spark import jobs

    shutil.rmtree(table, ignore_errors=True)
    got: dict = {}
    rec.op("encode", lambda: jobs.encode(spark, inp.base, table, target_rows=inp.target_rows))
    got["encode_bytes"] = block_stats(table)["bytes"]
    rec.op("append", lambda: jobs.encode_append(spark, inp.batch, table))
    rec.op("compact", lambda: jobs.compact(spark, table))
    rec.op("vacuum", lambda: jobs.vacuum(spark, table))
    got["stored"] = block_stats(table)
    rec.op("scan", lambda: _noop(jobs.decode(spark, table)))
    got["lookups"] = {
        c: rec.op("lookup", lambda c=c: jobs.decode(spark, table, where=("commit", c, c)).collect())
        for c in inp.lookups
    }
    return got


def check_pass(inp: Inputs, got: dict) -> list[str]:
    """Output checks for one pass; returns the failures."""
    bad = []
    for c, rows in got["lookups"].items():
        digests = sorted(row_digest(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rows)
        if digests != inp.expected[c]:
            bad.append(f"lookup {c}: {len(rows)} rows differ from the generated rows")
    return bad


def check_scan_rows(inp: Inputs, sql: dict[str, dict[str, float]], passes: int) -> list[str]:
    """Rows the decode kernels returned for the full scan, from the SQL metrics."""
    have = sql["scan"]["arrow_rows_out"] / passes
    if have != inp.rows:
        return [f"scan: decode returned {have} rows per pass, expected {inp.rows}"]
    return []


def run(spark, work: str, inp: Inputs, seconds: float, tracer: Tracer) -> dict:
    """Set up, loop timed passes, verify; return samples and check results."""
    from deltoid_spark.jobs import pipeline

    if not tracer.enabled:
        return _run(spark, work, inp, seconds, tracer)
    with wrap_attr(tracer, pipeline, "build_partition_map", "partitioning.build_map"):
        return _run(spark, work, inp, seconds, tracer)


def _run(spark, work: str, inp: Inputs, seconds: float, tracer: Tracer) -> dict:
    from deltoid_spark import jobs

    setup_table, table = os.path.join(work, "setup_table"), os.path.join(work, "table")
    c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
    with tracer.span("setup"):
        jobs.encode(spark, inp.base, setup_table, target_rows=inp.target_rows)
        setup_bytes = block_stats(setup_table)["bytes"]
        jobs.encode_append(spark, inp.batch, setup_table)
    setup_cpu = tree_cpu_s(os.getpid()) - c0
    setup_wall = time.perf_counter() - t0
    log(f"set-up encode and append {setup_wall:.1f}s")
    failures: list[str] = []
    rec = Recorder(tracer)
    pass_walls = []
    t_start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        got = one_pass(spark, inp, table, rec)
        pass_walls.append(time.perf_counter() - t0)
        log(f"pass {pass_walls[-1]:.1f}s")
        failures += check_pass(inp, got)
        if got["encode_bytes"] != setup_bytes:
            failures.append(
                f"encode bytes differ from the set-up encode's: {got['encode_bytes']} vs {setup_bytes}"
            )
        if time.perf_counter() - t_start + median(pass_walls) > seconds:
            break
    loop_wall = time.perf_counter() - t_start
    t0 = time.perf_counter()
    v = jobs.verify(spark, spark.read.parquet(inp.full), jobs.decode(spark, table))
    log(f"verify {time.perf_counter() - t0:.1f}s")
    if not v["ok"]:
        failures.append(f"verify of the compacted table failed: {v}")
    return {
        "inputs": inp,
        "setup_cpu": setup_cpu,
        "setup_wall": setup_wall,
        "pass_walls": pass_walls,
        "loop_start": t_start,
        "loop_wall": loop_wall,
        "recorder": rec,
        "stored": got["stored"],
        "encode_bytes": setup_bytes,
        "failures": failures,
    }


def _mb(n: int) -> float:
    return n / 2**20


def report(spark, res: dict, tracer: Tracer, trace: bool) -> dict:
    """End-to-end, detail and per-layer figures of one run."""
    import layers
    import sqlmetrics
    from tracing import tail_percentile

    inp: Inputs = res["inputs"]
    rec: Recorder = res["recorder"]
    s = rec.samples
    t0 = time.perf_counter()
    sql = sqlmetrics.collect(spark, rec.windows, None if trace else ("scan",))
    collect_s = time.perf_counter() - t0
    passes = len(res["pass_walls"])
    failures = list(res["failures"]) + check_scan_rows(inp, sql, passes)
    stored = res["stored"]
    lookups = s["lookup"]
    tail = tail_percentile(lookups)
    detail = {
        "ops": rec.attempted,
        "passes": passes,
        "pass_s": median(res["pass_walls"]),
        "rows": inp.rows,
        "raw_mb": _mb(inp.full_raw),
        "encode_mbps": _mb(inp.base_raw) / median(s["encode"]),
        "append_mbps": _mb(inp.batch_raw) / median(s["append"]),
        "compact_s": median(s["compact"]),
        "vacuum_s": median(s["vacuum"]),
        "bytes_ratio": stored["enc"] / stored["raw"],
        "scan_mbps": _mb(inp.full_raw) / median(s["scan"]),
        "lookup_p50_s": median(lookups),
        "lookup_tail_s": tail[1] if tail else None,
        "lookup_tail_percentile": tail[0] if tail else None,
        "lookup_n": len(lookups),
        "setup_wall_s": res["setup_wall"],
        "op_s": {op: median(s[op]) for op in OPS},
        "op_cpu_s": {op: median(rec.cpu[op]) for op in OPS},
        "pass_cpu_s": rec.pass_cpu_s(passes, DATA_OPS),
        "spark_jobs": {op: sql[op]["spark_jobs"] / len(s[op]) for op in OPS},
    }
    e2e = {
        "setup_s": (res["setup_cpu"], "s"),
        "pass_cpu_s": (detail["pass_cpu_s"], "s"),
    }
    out = layers.empty()

    def put(name, value):
        out[name][0] = value

    for op in OPS:
        for key in layers.PIPELINE_KEYS:
            if f"{op}.{key}" in out:
                put(f"{op}.{key}", sql[op][key] / len(s[op]))
    put("lookup.rows_decoded", sql["lookup"]["arrow_rows_out"] / len(lookups))
    for c in inputs.CODE_COLUMNS:
        put(f"bytes.{c}", stored["bytes"].get(c, 0))
    for c in layers.STRING_CODECS:
        put(f"codec.{c}.blocks", stored["blocks"].get(c, 0))
    put("trace.collect_s", collect_s)
    if trace:
        failures += _trace_layers(spark, res, tracer, out, detail)
    detail["ops_failed"] = len(failures)
    return {
        "failures": failures,
        "detail": detail,
        "e2e": e2e,
        "layers": {k: (v, u) for k, (v, u) in out.items()},
        "attempted": rec.attempted,
    }


def _trace_layers(spark, res: dict, tracer: Tracer, out: dict, detail: dict) -> list[str]:
    """Span- and replay-derived per-layer figures; returns failed checks."""
    import layers
    import replay
    from tracing import count_by_name, inclusive_by_name, self_by_name

    inp: Inputs = res["inputs"]
    failures = []
    timed = [sp for sp in tracer.spans if sp.start >= res["loop_start"]]
    jobs_s = sum(sp.end - sp.start for sp in timed if sp.name in OPS and sp.parent is None)
    out["trace.job_cover"][0] = jobs_s / res["loop_wall"]
    builds = [sp.end - sp.start for sp in timed if sp.name == "partitioning.build_map"
              and tracer.spans[sp.parent].name == "encode"]
    out["partitioning.build_map_s"][0] = sum(builds) / len(builds)

    rp = replay.replay(spark, inp, TYPED_KEY)
    out["partitioning.parts"][0] = rp["n_parts"]
    out["partitioning.max_part_rows"][0] = rp["max_part_rows"]
    own = self_by_name(rp["spans"])
    for span_name, metric in layers.KERNEL_SPANS.items():
        out[metric][0] = own.get(span_name, 0.0)
    under_selector = count_by_name(rp["spans"], parent_name="selector").get("encode_block", 0)
    n_select = count_by_name(rp["spans"]).get("selector", 0)
    out["selector.trials_per_call"][0] = under_selector / n_select if n_select else 0
    out["zstd.compress_mb_in"][0] = _mb(rp["compress_bytes_in"])
    wall = sum(rp["traced_walls"].values())
    cover = sum(own.values()) / wall
    out["replay.kernel_cover"][0] = cover
    for phase in layers.REPLAY_PHASES:
        out[f"trace.{phase}_overhead_s"][0] = rp["traced_walls"][phase] - min(
            w[phase] for w in rp["plain_walls"]
        )
    plain = {ph: min(w[ph] for w in rp["plain_walls"]) for ph in layers.REPLAY_PHASES}
    # a pass runs the kernels over the corpus about five times: encode,
    # append, compact (decode + encode) and the scan (decode)
    kernel_pass_s = 2 * plain["encode"] + plain["append"] + 2 * plain["decode"]
    detail["replay_s"] = plain
    detail["kernel_share_of_pass_cpu"] = kernel_pass_s / detail["pass_cpu_s"]
    detail["replay_selector_incl_s"] = inclusive_by_name(rp["spans"]).get("selector", 0.0)
    if cover < 0.9:
        failures.append(f"kernel self times cover {cover:.3f} of the replay wall (< 0.9)")
    silent = sorted(k for k, n in rp["calls"].items() if n == 0 and k not in replay.MAY_BE_IDLE)
    if silent:
        failures.append(f"kernel wrappers that recorded no call: {silent}")
    if out["trace.job_cover"][0] < 0.9:
        failures.append(f"job spans cover {out['trace.job_cover'][0]:.3f} of the loop wall (< 0.9)")
    for o in rp["outputs"]:
        if o["decoded_rows"] != rp["base_rows"] + rp["batch_rows"]:
            failures.append(f"replay decode returned {o['decoded_rows']} rows")
        if o["enc_bytes"] != res["encode_bytes"]:
            failures.append(
                f"replay encode bytes {o['enc_bytes']} differ from the Spark encode's {res['encode_bytes']}"
            )
    return failures
