"""Workload inputs, their oracles, one iteration of each workload, and the
oracle gate that checks every iteration's output.

Inputs come from ``datagen.generate_transcripts(sf, seed=...)`` and are
cached under the benchmark's work directory keyed by (sf, seed, datagen
source). Oracle results are DuckDB replays from ``oracle_sql`` /
``oracle_extras``; they are computed once per input and cached as parquet,
keyed by the input and the package source, so a code change never reuses
a stale oracle.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from lumbermill_spark import datagen, pipeline, oracle_extras as OX, oracle_sql as O
from lumbermill_spark import schemas as S

PKG_DIR = os.path.dirname(os.path.abspath(pipeline.__file__))

# sink name → the msg_class it keeps (pipeline.run's routing table)
SINK_CLASS = {
    S.SINK_ROUTER: S.CLS_ROUTER,
    S.SINK_EVENTS_ROUTER: S.CLS_ROUTER_ERROR,
    S.SINK_DYNO_MEM: S.CLS_DYNO_MEM,
    S.SINK_DYNO_LOAD: S.CLS_DYNO_LOAD,
    S.SINK_EVENTS_DYNO: S.CLS_DYNO_ERROR,
}
# cached inputs/oracles kept per kind; older entries are removed
CACHE_KEEP = 12


def _sha(*parts: bytes) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p)
    return h.hexdigest()[:16]


def _source_hash(paths: list[str]) -> str:
    return _sha(*[open(p, "rb").read() for p in sorted(paths)])


def _prune(parent: str, keep: int = CACHE_KEEP) -> None:
    entries = sorted(
        (os.path.join(parent, d) for d in os.listdir(parent)), key=os.path.getmtime, reverse=True
    )
    for d in entries[keep:]:
        shutil.rmtree(d, ignore_errors=True)


@dataclass
class Input:
    path: str  # directory of part files
    rows: int
    stats: dict = field(default_factory=dict)


def make_input(work: str, sf: float, seed: int, parts: int) -> Input:
    """Seed-keyed transcripts split into ``parts`` contiguous part files
    (event time stays monotone across them). Never uses datagen's own
    ``.data`` cache, which is keyed by sf only."""
    key = "sf%g_seed%d_parts%d_%s" % (sf, seed, parts, _source_hash([datagen.__file__]))
    parent = os.path.join(work, "inputs")
    path = os.path.join(parent, key)
    meta = os.path.join(path, "_input.json")
    if not os.path.exists(meta):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        table = datagen.generate_transcripts(sf, seed=seed)
        n = table.num_rows
        bounds = [n * i // parts for i in range(parts + 1)]
        for i in range(parts):
            part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(part, os.path.join(tmp, "part-%05d.parquet" % i),
                           row_group_size=datagen.ROW_GROUP_ROWS)
        stats = _input_stats(table, tmp)
        with open(os.path.join(tmp, "_input.json"), "w") as fh:
            json.dump(stats, fh)
        os.replace(tmp, path)
        _prune(parent)
    with open(meta) as fh:
        stats = json.load(fh)
    os.utime(path)
    return Input(path=path, rows=stats["rows"], stats=stats)


def _input_stats(table: pa.Table, path: str) -> dict:
    """Row count, content hash, and the measured hot-key share: the share of
    turns owned by the top 1% of conv_ids (datagen aims for ~50%)."""
    counts = np.sort(pc.value_counts(table["conv_id"].drop_null()).field("counts").to_numpy())
    n_hot = max(1, len(counts) // 100)
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return {
        "rows": table.num_rows,
        "content_sha256": _sha(*[open(f, "rb").read() for f in files]),
        "conv_ids": int(len(counts)),
        "hot_key_share": round(float(counts[-n_hot:].sum()) / table.num_rows, 4),
    }


def _parquet_glob(path: str) -> str:
    return os.path.join(path, "*.parquet")


# ---------------------------------------------------------------------------
# oracles (DuckDB, computed once per input and cached as parquet)
# ---------------------------------------------------------------------------


def _oracle_queries(kind: str, inp: Input) -> dict[str, str]:
    src = _parquet_glob(inp.path)
    if kind == "drain":
        q = {"sink_" + s: getattr(O, "sink_" + s)(src) for s in S.ALL_SINKS}
        q["class_counts"] = O.class_counts(src)
        q["router_error_codes"] = O.router_error_code_counts(src)
        q["lineage_counts"] = O.lineage_counts(src)
        sink_classes = ", ".join("'%s'" % c for c in SINK_CLASS.values())
        # sink-class rows the pipeline drops: parse errors, and (counted as
        # kept-class rows minus sink rows) dyno samples with an empty source
        q["sink_class_rows"] = O.classified_cte(src) + f"""
SELECT msg_class, count(*) FILTER (WHERE parse_error) AS parse_errors,
       count(*) FILTER (WHERE NOT parse_error) AS kept
FROM p WHERE msg_class IN ({sink_classes}) GROUP BY msg_class
"""
        return q
    return {
        "near_dup": OX.conv_near_dup(src),
        "curated": OX.conv_curate(src),
        "class_counts": O.class_counts(src),
    }


def build_oracle(work: str, kind: str, inp: Input) -> str:
    """Directory of oracle parquet files for this input (cached)."""
    pkg = _source_hash(glob.glob(os.path.join(PKG_DIR, "**", "*.py"), recursive=True))
    parent = os.path.join(work, "oracles")
    path = os.path.join(parent, "%s_%s_%s" % (kind, os.path.basename(inp.path), pkg))
    if not os.path.exists(os.path.join(path, "_done")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        con = duckdb.connect()
        try:
            for name, sql in _oracle_queries(kind, inp).items():
                con.execute(f"COPY ({sql}) TO '{path}/{name}.parquet' (FORMAT parquet)")
        finally:
            con.close()
        open(os.path.join(path, "_done"), "w").close()
        _prune(parent)
    return path


# ---------------------------------------------------------------------------
# iterations
# ---------------------------------------------------------------------------


@dataclass
class Iteration:
    wall_s: float
    commit_intervals_s: list[float]
    result: object = None


def drain_config(chunk_files: int | None) -> "pipeline.PipelineConfig":
    return pipeline.PipelineConfig(sink_format="parquet", chunk_files=chunk_files)


def run_drain(spark, inp: Input, out: str, chunk_files: int | None) -> Iteration:
    t0 = time.time()
    res = pipeline.run(spark, inp.path, out, drain_config(chunk_files))
    wall = time.time() - t0
    return Iteration(wall, _intervals(t0, _chunk_commit_times(out)), res)


def _chunk_commit_times(out: str) -> list[float]:
    times = []
    for m in glob.glob(os.path.join(out, "lineage_ledger", "_chunk_*.done")):
        with open(m) as fh:
            times.append(float(json.load(fh)["committed_at"]))
    return sorted(times)


def _intervals(t0: float, commits: list[float]) -> list[float]:
    return [b - a for a, b in zip([t0] + commits[:-1], commits)]


def run_curate(spark, inp: Input, out: str) -> Iteration:
    """near-duplicate pairs, then the curation verdicts, each written as
    parquet; the curated write's commit (its _SUCCESS marker) ends the
    iteration's one delivery."""
    from lumbermill_spark.extras import convcorpus

    t0 = time.time()
    df = spark.read.parquet(inp.path)
    convcorpus.near_dup_conversations(df).write.parquet(os.path.join(out, "near_dup"))
    convcorpus.curate_conversations(df).write.parquet(os.path.join(out, "curated"))
    wall = time.time() - t0
    commit = os.stat(os.path.join(out, "curated", "_SUCCESS")).st_mtime
    return Iteration(wall, _intervals(t0, [commit]))


def _data_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def output_footprint(out: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files a run wrote."""
    files = _data_files(out)
    return sum(os.path.getsize(f) for f in files), len(files)


# ---------------------------------------------------------------------------
# oracle gate
# ---------------------------------------------------------------------------


def _multiset_diff(con, got_files: list[str], oracle_file: str, tie_cols: tuple = ()) -> tuple[int, int]:
    """Bag difference between the written rows and the oracle's, over the
    oracle's columns: (rows that differ, rows that match only up to a
    rounding tie). A tie pairs two rows equal in every column except those
    in ``tie_cols``, which differ by one unit in the 6th decimal: Spark's
    round() rounds the decimal string half up, DuckDB's rounds the binary
    double, so the engines split exact halves differently."""
    cols = pq.read_schema(oracle_file).names
    sel = ", ".join('"%s"' % c for c in cols)
    want = f"SELECT {sel} FROM read_parquet('{oracle_file}')"
    if not got_files:
        return con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0], 0
    flist = "[" + ", ".join("'%s'" % f for f in got_files) + "]"
    got = f"SELECT {sel} FROM read_parquet({flist}, union_by_name=true)"
    extra = con.execute(f"{got} EXCEPT ALL {want}").fetchall()
    missing = con.execute(f"{want} EXCEPT ALL {got}").fetchall()
    tie_idx = {cols.index(c) for c in tie_cols}

    def is_tie(a, b) -> bool:
        return all(
            x == y if i not in tie_idx
            else x is not None and y is not None and abs(x - y) <= 1.000001e-6
            for i, (x, y) in enumerate(zip(a, b))
        )

    ties = 0
    for row in extra:
        for j, cand in enumerate(missing):
            if is_tie(row, cand):
                ties += 1
                del missing[j]
                break
    return len(extra) - ties + len(missing), ties


def _sum_by(con, files: list[str], key: str, val: str) -> dict:
    if not files:
        return {}
    flist = "[" + ", ".join("'%s'" % f for f in files) + "]"
    return dict(con.execute(
        f"SELECT {key}, sum({val}) FROM read_parquet({flist}, union_by_name=true) GROUP BY 1"
    ).fetchall())


def check_drain(oracle: str, out: str, result) -> list[str]:
    """Problems found in one pipeline.run output: every sink equals its
    oracle as a multiset, the class-count and router-error-code metrics and
    the lineage ledger equal theirs, and every input line is conserved."""
    problems = []
    con = duckdb.connect()
    try:
        sink_rows = 0
        for s in S.ALL_SINKS:
            files = _data_files(os.path.join(out, "sinks", s))
            bad, _ = _multiset_diff(con, files, os.path.join(oracle, "sink_%s.parquet" % s))
            if bad:
                problems.append(f"sink {s}: {bad} rows differ from the oracle")
            if files:
                flist = "[" + ", ".join("'%s'" % f for f in files) + "]"
                sink_rows += con.execute(f"SELECT count(*) FROM read_parquet({flist})").fetchone()[0]

        def oracle_map(name: str) -> dict:
            return dict(con.execute(f"SELECT * FROM read_parquet('{oracle}/{name}.parquet')").fetchall())

        want_cc = oracle_map("class_counts")
        got_cc = _sum_by(con, _data_files(os.path.join(out, "metrics", "class_counts")), "counter", "n")
        if got_cc != want_cc:
            problems.append(f"class_counts metric {got_cc} != oracle {want_cc}")
        want_ec = oracle_map("router_error_codes")
        got_ec = _sum_by(con, _data_files(os.path.join(out, "metrics", "router_error_codes")), "code", "n")
        if got_ec != want_ec:
            problems.append(f"router_error_codes metric {got_ec} != oracle {want_ec}")

        led = _data_files(os.path.join(out, "lineage_ledger"))
        flist = "[" + ", ".join("'%s'" % f for f in led) + "]"
        got_lin = set(con.execute(
            f"SELECT regexp_extract(source_file, '([^/]+)$', 1), msg_class, sum(rows) "
            f"FROM read_parquet({flist}) GROUP BY 1, 2").fetchall()) if led else set()
        want_lin = set(con.execute(f"SELECT * FROM read_parquet('{oracle}/lineage_counts.parquet')").fetchall())
        if got_lin != want_lin:
            problems.append(f"lineage ledger differs from the oracle in {len(got_lin ^ want_lin)} rows")

        # conservation: lines == sink rows on disk + non-sink classes +
        # sink-class parse errors + empty-source drops
        drops = con.execute(
            f"SELECT sum(parse_errors), sum(kept) FROM read_parquet('{oracle}/sink_class_rows.parquet')"
        ).fetchone()
        oracle_sink_rows = sum(
            con.execute(f"SELECT count(*) FROM read_parquet('{oracle}/sink_{s}.parquet')").fetchone()[0]
            for s in S.ALL_SINKS
        )
        parse_errors, empty_source = int(drops[0]), int(drops[1]) - oracle_sink_rows
        cc = result.class_counts
        non_sink = sum(v for k, v in cc.items() if k in S.ALL_CLASSES and k not in SINK_CLASS.values())
        accounted = sink_rows + non_sink + parse_errors + empty_source
        if cc.get("lines") != accounted or result.rows_in != accounted:
            problems.append(
                f"conservation: lines={cc.get('lines')} rows_in={result.rows_in} but sinks={sink_rows}"
                f" + non-sink={non_sink} + parse errors={parse_errors} + empty source={empty_source}"
                f" = {accounted}"
            )
    finally:
        con.close()
    return problems


def check_curate(oracle: str, out: str) -> tuple[list[str], int]:
    """(problems, rounding ties) for one curation output. The curated
    quality_score is rounded to 6 decimals, where the engines can split a
    half-way double differently; such ties are counted, not failed."""
    problems, ties = [], 0
    con = duckdb.connect()
    try:
        for name, tie_cols in (("near_dup", ()), ("curated", ("quality_score",))):
            bad, t = _multiset_diff(con, _data_files(os.path.join(out, name)),
                                    os.path.join(oracle, name + ".parquet"), tie_cols)
            ties += t
            if bad:
                problems.append(f"{name}: {bad} rows differ from the oracle")
    finally:
        con.close()
    return problems, ties


def class_mix(oracle: str) -> dict:
    """Per-class share of input lines, from the oracle's class counts."""
    con = duckdb.connect()
    try:
        cc = dict(con.execute(f"SELECT * FROM read_parquet('{oracle}/class_counts.parquet')").fetchall())
    finally:
        con.close()
    return {k: round(v / cc["lines"], 4) for k, v in sorted(cc.items()) if k in S.ALL_CLASSES}
