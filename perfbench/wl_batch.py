"""``batch``: passes over a fixed list of declared queries.

The list has three parts. ``FLOOR`` queries spend most of their wall
building the plan on the driver (eager checkpoints, ``count()`` probes,
driver-local loops; 20-30 Spark jobs each). ``DATA`` queries spend it in
executor work (shuffles, joins, codegen, vector kernels; 4-7 jobs);
``rfm_scores`` is the window twin of ``rfm_two_pass``, so a change to
that operator's spelling shows on both sides. ``STREAM`` is the whole
ingest lifecycle as one streaming job (convert, enrich, LSH near-dup
admission, SCD-2 store over two micro-batches with planted
near-duplicates), the write path's Python-worker and store-I/O cost.

Set-up generates the tables at sf0.1 from a fixed seed (the inputs and
the order do not depend on ``--seed``) and warms up with one pass over
the whole list on sf0.001 tables, so the measured passes run with the
JVM, the Python workers and every query's code paths already warm: a
query's first run costs up to five times a warm one. The measured loop
then runs as many whole passes as fit in ``--seconds``, judged by the
mean pass so far, and at least one: a run's wall stays bounded whatever
the speed of the code. ``PERFBENCH_SF`` overrides the measured scale for
the smoke test.

Each query run is timed as build (calling the query function) plus exec
(collecting the result into the Python process); a query's latency is
the median over the passes. Every collected result is then checked
outside the timed region: ``stream_ingest_e2e`` by ``check_stream``,
the others against the query's DuckDB twin through
``scripts/check_oracle.compare`` where it has one, against its
``min_rows`` floor otherwise.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import gen
from perfbench.common import Context, Outcome, median

SF = 0.1
WARMUP_SF = 0.001
TABLE_SEED = 42
FLOOR = ["rfm_two_pass", "q_reach"]
DATA = ["rfm_scores", "q_tpch18"]
STREAM = ["stream_ingest_e2e"]
QUERIES = FLOOR + DATA + STREAM
# stream_ingest_e2e's messages (restated from declared.py): documents
# 0-29 in the first micro-batch, 30-59 in the second, plus media ids
# 1000-1004 (document keys 500-504) carrying the text of documents 0-4
# with a suffix
STREAM_BATCHES = (range(0, 30), range(30, 60))
STREAM_PLANTED = {1000 + i: i for i in range(5)}
PLANTED_SUFFIX = " planted near duplicate suffix"
# the ingest stream's near-dup rule (restated from operators/dedup.py):
# MinHash over 5-byte shingles with 8 permutations, bands of 4 values; a
# message is a near-duplicate when one of its bands equals a band of any
# message of an earlier micro-batch (every message's bands, flagged or
# not, join the index)
MERSENNE_P = 2_147_483_647
SHINGLE_K = 5
BAND_WIDTH = 4


def _perms(n: int, seed: int = 1) -> np.ndarray:
    out, x = [], seed
    for _ in range(2 * n):
        x = (x * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (1 << 63)
        out.append(1 + x % (MERSENNE_P - 1))
    return np.array(out, dtype=np.int64).reshape(n, 2)


PERMS = _perms(8)


def lsh_bands(text: str) -> set[tuple]:
    """The (band index, band values) keys of one message's text."""
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    if len(b) < SHINGLE_K:
        b = np.pad(b, (0, SHINGLE_K - len(b)))
    n = len(b) - SHINGLE_K + 1
    h = b[:n].copy()
    for j in range(1, SHINGLE_K):
        h = (h * 31 + b[j:n + j]) % MERSENNE_P
    sig = ((PERMS[:, :1] * h[None, :] + PERMS[:, 1:]) % MERSENNE_P).min(axis=1)
    return {(j, tuple(sig[j * BAND_WIDTH:(j + 1) * BAND_WIDTH]))
            for j in range(-(-len(sig) // BAND_WIDTH))}


def stream_messages(texts: dict[int, str]) -> list[dict[int, str]]:
    """Each micro-batch's messages, media id -> text."""
    first = {i: texts[i] for i in STREAM_BATCHES[0]}
    second = {i: texts[i] for i in STREAM_BATCHES[1]}
    second.update({m: texts[i] + PLANTED_SUFFIX for m, i in STREAM_PLANTED.items()})
    return [first, second]


def expected_flags(texts: dict[int, str]) -> dict[int, bool]:
    """media id -> near-duplicate verdict, batch by batch."""
    index: set[tuple] = set()
    flags = {}
    for batch in stream_messages(texts):
        bands = {m: lsh_bands(t) for m, t in batch.items()}
        flags.update({m: bool(b & index) for m, b in bands.items()})
        for b in bands.values():
            index |= b
    return flags


def oracle(data_dir: str):
    import duckdb

    from beis_orp_data_service_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data_dir, t)}')"
        )
    return con


def check_stream(pdf, texts: dict[int, str]) -> list[str]:
    """Problems with ``stream_ingest_e2e``'s flags LEFT JOIN store.

    ``texts`` maps doc_id to text for documents 0-59. Every message
    appears once, with the near-dup verdict ``expected_flags`` gives. A
    flagged message has no store row; an admitted one is stored at
    version 1 under its own document key."""
    import pandas as pd

    want = expected_flags(texts)
    keys = {m: 500 + i for m, i in STREAM_PLANTED.items()}
    rows = {int(r.media_id): r for r in pdf.itertuples(index=False)}
    problems = []
    if len(pdf) != len(rows) or set(rows) != set(want):
        problems.append(f"{len(pdf)} rows over {len(rows)} media ids, "
                        f"{len(set(want) - set(rows))} missing, "
                        f"{len(set(rows) - set(want))} unknown")
    for mid, r in sorted(rows.items()):
        if mid not in want:
            continue
        flagged, stored = bool(r.is_near_dup), bool(pd.notna(r.version))
        if flagged != want[mid]:
            problems.append(f"{mid}: is_near_dup {flagged}, expected {want[mid]}")
        if flagged and stored:
            problems.append(f"flagged {mid} is in the store")
        if not flagged and not (stored and r.version == 1 and r.doc_key == keys.get(mid, mid)):
            problems.append(f"admitted {mid} stored as key={r.doc_key} version={r.version}")
    return problems


def stream_texts(data_dir: str) -> dict[int, str]:
    import pyarrow.parquet as pq

    from beis_orp_data_service_spark.catalog import table_path

    t = pq.read_table(table_path(data_dir, "documents"), columns=["doc_id", "text"])
    return {i: x for i, x in zip(t.column("doc_id").to_pylist(),
                                 t.column("text").to_pylist()) if i < 60}


def check(name: str, pdf, con, texts: dict[int, str]) -> list[str]:
    """Problems with one query's collected result (empty = correct)."""
    from beis_orp_data_service_spark import declared
    from scripts.check_oracle import compare

    if name == STREAM[0]:
        return [f"{name}: {p}" for p in check_stream(pdf, texts)]
    qdef = declared.REGISTRY[name]
    if qdef.sql is None:
        if len(pdf) < qdef.min_rows:
            return [f"{name}: {len(pdf)} rows < min_rows={qdef.min_rows}"]
        return []
    return [f"{name}: {p}" for p in compare(name, pdf, con.sql(qdef.sql).df())]


def setup(ctx: Context) -> str:
    """Write the tables and warm up; returns the measured tables' directory."""
    from beis_orp_data_service_spark import declared

    data_dir, warm_dir = ctx.path("sf"), ctx.path("sf_warmup")
    gen.write_sf_tables(data_dir, float(os.environ.get("PERFBENCH_SF", SF)),
                        TABLE_SEED)
    gen.write_sf_tables(warm_dir, WARMUP_SF, TABLE_SEED)
    for name in QUERIES:
        declared.REGISTRY[name].fn(ctx.spark, warm_dir).toPandas()
    return data_dir


def measure(ctx: Context, data_dir: str) -> Outcome:
    """As many whole passes over the list as fit in ``--seconds`` (at
    least one), then the checks."""
    from beis_orp_data_service_spark import declared

    builds = {q: [] for q in QUERIES}
    execs = {q: [] for q in QUERIES}
    results = []  # (name, collected frame or the exception it raised)
    m0, w0 = time.time(), time.perf_counter()
    passes = 0
    while True:
        for name in QUERIES:
            ctx.group(f"q:{name}", name)
            t = t_build = time.perf_counter()
            try:
                df = declared.REGISTRY[name].fn(ctx.spark, data_dir)
                t_build = time.perf_counter()
                res = df.toPandas()
            except Exception as e:  # noqa: BLE001 - a failing query is a failed op
                res = e
            t_end = time.perf_counter()
            builds[name].append(t_build - t)
            execs[name].append(t_end - t_build)
            results.append((name, res))
        passes += 1
        # another pass only if one more of the mean length still fits
        elapsed = time.perf_counter() - w0
        if elapsed + elapsed / passes > ctx.seconds:
            break
    wall = time.perf_counter() - w0
    m1 = time.time()
    ctx.end_ops()

    # file-inventory oracles glob this directory
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data_dir
    con, texts = oracle(data_dir), stream_texts(data_dir)
    problems, failed = [], 0
    for name, res in results:
        if isinstance(res, Exception):
            found = [f"{name}: raised {type(res).__name__}: {str(res)[:200]}"]
        else:
            found = check(name, res, con, texts)
        failed += bool(found)
        problems.extend(found)
    build = {q: median(v) for q, v in builds.items()}
    exe = {q: median(v) for q, v in execs.items()}
    layers = {
        "batch.passes": passes,
        "batch.floor_wall_s": sum(build[q] + exe[q] for q in FLOOR),
        "batch.data_wall_s": sum(build[q] + exe[q] for q in DATA),
    }
    for q in QUERIES:
        layers[f"q.{q}.build_s"] = build[q]
        layers[f"q.{q}.exec_s"] = exe[q]
    op_s = [median([b + e for b, e in zip(builds[q], execs[q])]) for q in QUERIES]
    return Outcome(op_s, wall, len(results), failed,
                   m0, m1, layers, problems)
