"""``search``: one client calling ``search_api.handle_search`` back to
back (a closed loop) for ``--seconds`` seconds.

The documents table has the ORP shape and is derived from a generated
5,000-row ``documents`` table; it and the ``legislation_edges`` table
are written once as parquet during set-up. The seeded request mix
covers every ``build_predicate`` branch, deep pages, the edges join,
empty results (404) and invalid keys (400). Each request runs about four
small Spark jobs, so scheduling and planning dominate its latency. An
invalid-key request is answered by validation alone, in microseconds
and without Spark: it counts towards the requests served, but not
towards the latencies (a handful of ~50 us samples would drag the
geometric mean far below the typical Spark-backed request).

Every response is checked after the loop against DuckDB over the same
parquet files: status code, ``total_search_results`` and the page's
document ids (in order; as a multiset when the edges join can repeat a
document).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import Context, Outcome, median, percentile

N_DOCS = 5000
TABLE_SEED = 42
# one full REQUEST_CYCLE, so every request shape has run once before the
# timed loop (with 16, four shapes stayed cold and the runs' typical
# latency split into two modes ~30% apart)
N_WARMUP = 20
MATCH_LIMIT = 10_000  # the handler's match guard
# the handler's accepted request keys (typedb_search_query handler.py:16-18)
ACCEPTED = {"id", "keyword", "title", "date_published", "regulator_id",
            "status", "document_type", "regulatory_topic", "legislation_href",
            "page", "page_size", "order"}


def write_inputs(root: str, seed: int) -> tuple[str, str, object]:
    orp = gen.orp_documents(seed, gen.documents_table(seed, N_DOCS))
    edges = gen.legislation_edges(seed, orp)
    os.makedirs(root, exist_ok=True)
    docs_path = os.path.join(root, "orp_documents.parquet")
    edges_path = os.path.join(root, "legislation_edges.parquet")
    pq.write_table(orp, docs_path)
    pq.write_table(edges, edges_path)
    return docs_path, edges_path, orp


def expected(con, body: dict, join: bool) -> tuple[int, int | None, list[str]]:
    """(status, total, page ids) for one request, computed in DuckDB."""
    if set(body) - ACCEPTED:
        return 400, None, []
    conds, args = ["status <> 'archive'"], []
    if body.get("id") is not None:
        conds.append("document_uid = ?")
        args.append(body["id"])
    if body.get("regulatory_topic") is not None:
        conds.append("list_contains(regulatory_topic, ?)")
        args.append(body["regulatory_topic"])
    for kw in body.get("keyword", []):
        conds.append("list_contains(subject_keywords, lower(?))")
        args.append(kw)
    for col in ("regulator_id", "status", "document_type"):
        vals = body.get(col) or []
        if vals:
            conds.append(f"{col} IN ({', '.join('?' for _ in vals)})")
            args.extend(vals)
    dates = body.get("date_published") or {}
    if dates.get("start_date") is not None:
        conds.append("date_published >= CAST(? AS TIMESTAMP)")
        args.append(dates["start_date"])
    if dates.get("end_date") is not None:
        conds.append("date_published <= CAST(? AS TIMESTAMP)")
        args.append(dates["end_date"])
    if body.get("title") is not None:
        conds.append("contains(lower(title), lower(?))")
        args.append(body["title"])
    way = "ASC" if body.get("order", "desc") == "asc" else "DESC"
    ids = [r[0] for r in con.execute(
        f"SELECT document_uid FROM orp WHERE {' AND '.join(conds)} "
        f"ORDER BY date_published {way}, document_uid {way}", args).fetchall()]
    size = int(body.get("page_size", 10))
    lo = int(body.get("page", 0)) * size
    page = ids[:MATCH_LIMIT][lo:lo + size]
    if join:
        counts = dict(con.execute(
            "SELECT document_uid, count(*) FROM edges GROUP BY 1").fetchall())
        page = [u for u in page for _ in range(max(1, counts.get(u, 0)))]
    return (200 if page else 404), min(len(ids), MATCH_LIMIT), page


def check(con, req: gen.SearchRequest, resp) -> str | None:
    """A problem with one response, or None when it is correct."""
    if isinstance(resp, Exception):
        return f"raised {type(resp).__name__}: {str(resp)[:200]}"
    status, total, ids = expected(con, req.body, req.join)
    got = [d["document_uid"] for d in resp.get("documents", [])]
    if req.join:
        got, ids = sorted(got), sorted(ids)
    if resp["status_code"] != status:
        return f"{req.kind}: status {resp['status_code']} != {status}"
    if resp.get("total_search_results") != total:
        return f"{req.kind}: total {resp.get('total_search_results')} != {total}"
    if got != ids:
        return f"{req.kind}: page ids differ ({len(got)} vs {len(ids)})"
    return None


def oracle(docs_path: str, edges_path: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW orp AS SELECT * FROM read_parquet('{docs_path}')")
    con.execute(f"CREATE VIEW edges AS SELECT * FROM read_parquet('{edges_path}')")
    return con


@dataclass
class Inputs:
    docs_path: str
    edges_path: str
    documents: object  # DataFrame
    edges: object  # DataFrame
    pool: list[gen.SearchRequest]


def setup(ctx: Context) -> Inputs:
    """Write the tables, draw the requests and warm up."""
    from beis_orp_data_service_spark.pipelines import search_api

    docs_path, edges_path, orp = write_inputs(ctx.path("search"), TABLE_SEED)
    documents = ctx.spark.read.parquet(docs_path)
    edges = ctx.spark.read.parquet(edges_path)
    for req in gen.search_requests(ctx.seed, orp, N_WARMUP, salt="warmup"):
        search_api.handle_search(documents, req.body, edges if req.join else None)
    return Inputs(docs_path, edges_path, documents, edges,
                  gen.search_requests(ctx.seed, orp, 4000))


def measure(ctx: Context, inp: Inputs) -> Outcome:
    """The closed loop over the request pool, then the checks."""
    from beis_orp_data_service_spark.pipelines import search_api

    documents, edges, pool = inp.documents, inp.edges, inp.pool
    lat, responses = [], []
    m0, w0 = time.time(), time.perf_counter()
    deadline = w0 + ctx.seconds
    while time.perf_counter() < deadline and len(lat) < len(pool):
        req = pool[len(lat)]
        ctx.group(f"search:{len(lat)}", req.kind)
        t = time.perf_counter()
        try:
            resp = search_api.handle_search(documents, req.body,
                                            edges if req.join else None)
        except Exception as e:  # noqa: BLE001 - a failing request is a failed op
            resp = e
        lat.append(time.perf_counter() - t)
        responses.append(resp)
    wall = time.perf_counter() - w0
    m1 = time.time()
    ctx.end_ops()

    con = oracle(inp.docs_path, inp.edges_path)
    problems = [p for req, resp in zip(pool, responses)
                if (p := check(con, req, resp)) is not None]
    rows = sum(len(r.get("documents", [])) for r in responses
               if not isinstance(r, Exception))
    spark_lat = [x for req, x in zip(pool, lat) if req.kind != "invalid"]
    layers = {"search.p50_ms": median(spark_lat) * 1000.0,
              "search.p95_ms": percentile(spark_lat, 95) * 1000.0,
              "search.rows_returned": rows}
    return Outcome(spark_lat, wall, len(lat), len(problems),
                   m0, m1, layers, problems)
