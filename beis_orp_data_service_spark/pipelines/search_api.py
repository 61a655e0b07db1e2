"""Search API facade — the reference's request handler surface
(lambdas/typedb_search_query/handler.py) over the engine's search plan.

Reproduces the contract, not just the query: accepted-parameter
validation with the 400 path for unsupported keys (handler.py:54-58),
defaulted paging (page 1, size 10 — handler.py:20,51-52), and the
response envelope {status_code, total_search_results, documents}
(handler.py:60-71), with the three TypeDB round-trips collapsed into
one Spark job (SURVEY §3.2) that also counts the matches via ``observe``.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Observation

from beis_orp_data_service_spark.operators.search import (
    SEARCH_MATCH_LIMIT,
    SearchParams,
    build_predicate,
    page_rows,
    search,
)

ACCEPTED_KEYS = {
    # handler.py:16-18
    "id",
    "keyword",
    "title",
    "date_published",
    "regulator_id",
    "status",
    "document_type",
    "regulatory_topic",
    "legislation_href",
    "page",
    "page_size",
    "order",
}


def parse_request(body: dict[str, Any]) -> SearchParams:
    """Validate + coerce the JSON request body. Raises ValueError for
    unsupported params (the 400 path)."""
    unsupported = set(body) - ACCEPTED_KEYS
    if unsupported:
        raise ValueError(f"unsupported search parameters: {sorted(unsupported)}")
    dates = body.get("date_published") or {}
    return SearchParams(  # negative page or page_size raises (the 400 path)
        id=body.get("id"),
        keyword=body.get("keyword", []),
        title=body.get("title"),
        date_start=dates.get("start_date"),
        date_end=dates.get("end_date"),
        regulator_id=body.get("regulator_id", []),
        status=body.get("status", []),
        document_type=body.get("document_type", []),
        regulatory_topic=body.get("regulatory_topic"),
        page=int(body.get("page", 0)),  # 0-based, handler.py:20
        page_size=int(body.get("page_size", 10)),
        order=body.get("order", "desc"),
    )


def handle_search(
    documents: DataFrame,
    body: dict[str, Any],
    legislation_edges: DataFrame | None = None,
) -> dict[str, Any]:
    """The handler: validate → one plan → envelope.

    total_search_results is the filtered count (pre-page, capped at the
    match limit — handler.py:66 counts the full TQL answer set).
    """
    try:
        params = parse_request(body)
    except ValueError as e:
        return {"status_code": 400, "error": str(e)}

    obs = Observation() if page_rows(params.page, params.page_size) else None
    paged = search(documents, params, legislation_edges, observation=obs)
    docs = [r.asDict(recursive=True) for r in paged.collect()]
    row = obs._jo.getRow() if obs else None  # Observation.get fails on an empty row
    if row is not None and row.length():
        total = row.getLong(0)
    else:  # no observation, or Spark folded it away (search() docstring)
        total = documents.filter(build_predicate(params)).limit(SEARCH_MATCH_LIMIT).count()
    return {
        "status_code": 200 if docs else 404,  # empty-result path handler.py:69-71
        "total_search_results": min(total, SEARCH_MATCH_LIMIT),
        "documents": docs,
    }
