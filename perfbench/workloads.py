"""Seeded request streams for the benchmark workloads.

Generation is pure: a (workload, seed) pair always yields the same
requests in the same order, the engine never sees the seed, and a
longer stream starts with the shorter one. Requests come in blocks of a
fixed composition (the seed picks parameters and order inside a block),
so two seeds load the engine with the same mix of work.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

from datagen import ORDER_DATE_DAYS, ORDER_DATE_FIRST, ROWS

WORKLOADS = ("gaql_lookup", "report_export", "corpus_udf")

# corpus_udf mix: entry name -> the engine module that implements it,
# which names the entry's per-layer wall-time metric.
CORPUS_ENTRIES = {
    "src_proto_decode": "sources.protodec",
    "udf_grouped_pandas": "entry_registry",
    "ext_dedup_minhash": "operators.dedup",
    "ext_kneser_ney": "entry_registry",
    "ext_bm25_search": "operators.lexical",
    "ext_text_stats": "functions.text",
}
SINKS = ("avro", "json", "parquet")
# The sinks each report kind is written to, once per block. Aggregate
# reports go to the Spark sinks only: five of the seven exports in a block
# then take about the same time, so the median and the tail percentile
# fall inside one group of similar requests, not on the edge between two.
REPORT_SINKS = {"agg_report": ("json", "parquet"), "detail_projection": SINKS}
# Entries each report_export block also exports, and their sink. The
# proto decode is the engine's protobuf-to-record path behind a Python/
# Arrow hop; the BM25 search leaves a cached relation behind. Without
# them no listed workload would cross the engine/Python boundary or
# leave anything persisted.
EXPORT_ENTRIES = {"src_proto_decode": "json", "ext_bm25_search": "parquet"}

# Source tables behind the ads_row report view.
ADS_ROW_SOURCE_ROWS = ROWS["lineitem"] + ROWS["orders"] + ROWS["customer"]

# Shapes of one gaql_lookup block: seven first-seen texts, then three
# repeats of texts already issued, so 30% of requests are cache hits. The
# share is a design choice, not a measured one: it times both the hit
# and the miss path in every block.
LOOKUP_FRESH = (
    "customer_lookup", "customer_lookup", "campaign_lookup", "campaign_lookup",
    "date_range", "date_range", "top_campaigns",
)
LOOKUP_REPEATS = 3
# Report windows. At the benchmark's scale factor 0.01 a day holds about
# 25 ads_row rows and 6 campaigns, so a detail report has about 6,000
# rows and an aggregate report about 4,500: the row counts that 24- and
# 73-day windows give at scale factor 0.1.
REPORT_AGG_DAYS = 730
REPORT_DETAIL_DAYS = 240
DETAIL_PATHS = (
    "customer.id", "campaign.id", "campaign.name", "ad_group.id", "segments.date",
    "metrics.clicks", "metrics.cost_micros", "metrics.conversions",
)


@dataclass(frozen=True)
class Request:
    """One request. ``text`` is the GAQL text (the result-cache key), the
    detail-projection spec, or the entry name (``entry``); ``oracle_sql``
    is DuckDB SQL over ``{ads_flat}`` (None: the entry's registered
    oracle)."""

    rid: int
    block: int
    shape: str
    text: str
    oracle_sql: str | None = None
    implicit_agg: bool = False
    sink: str | None = None
    window: tuple[str, str] | None = None
    entry: bool = False


def _day(offset: int) -> str:
    return (ORDER_DATE_FIRST + dt.timedelta(days=offset)).isoformat()


def _window(rng: random.Random, days: int) -> tuple[str, str]:
    start = rng.randrange(0, ORDER_DATE_DAYS - days + 1)
    return _day(start), _day(start + days - 1)


def _lookup(shape: str, rng: random.Random) -> tuple[str, str, bool]:
    """(GAQL text, oracle SQL, implicit_agg) for one first-seen lookup."""
    if shape == "customer_lookup":
        cid = rng.randrange(ROWS["customer"])
        return (
            "SELECT customer.id, campaign.id, ad_group.id, segments.date, metrics.clicks, "
            f"metrics.cost_micros FROM ads_row WHERE customer.id = {cid}",
            "SELECT customer_id, campaign_id, ad_group_id, segments_date, metrics_clicks, "
            f"metrics_cost_micros FROM ({{ads_flat}}) WHERE customer_id = {cid}",
            False,
        )
    if shape == "campaign_lookup":
        oid = rng.randrange(ROWS["orders"])
        return (
            "SELECT campaign.id, campaign.name, campaign.status, ad_group.id, "
            f"metrics.impressions, metrics.conversions FROM ads_row WHERE campaign.id = {oid}",
            "SELECT campaign_id, campaign_name, campaign_status, ad_group_id, "
            "metrics_impressions, metrics_conversions FROM ({ads_flat}) "
            f"WHERE campaign_id = {oid}",
            False,
        )
    if shape == "date_range":
        lo, hi = _window(rng, rng.randint(1, 3))
        return (
            "SELECT campaign.id, segments.date, metrics.impressions, metrics.clicks "
            f"FROM ads_row WHERE segments.date BETWEEN '{lo}' AND '{hi}'",
            "SELECT campaign_id, segments_date, metrics_impressions, metrics_clicks "
            f"FROM ({{ads_flat}}) WHERE segments_date BETWEEN '{lo}' AND '{hi}'",
            False,
        )
    if shape == "top_campaigns":
        lo, hi = _window(rng, 7)
        return (
            "SELECT campaign.id, metrics.clicks, metrics.cost_micros FROM ads_row "
            f"WHERE segments.date BETWEEN '{lo}' AND '{hi}' "
            "ORDER BY metrics.cost_micros DESC, campaign.id ASC LIMIT 10",
            "SELECT campaign_id, CAST(SUM(metrics_clicks) AS BIGINT) AS metrics_clicks, "
            "CAST(SUM(metrics_cost_micros) AS BIGINT) AS metrics_cost_micros "
            f"FROM ({{ads_flat}}) WHERE segments_date BETWEEN '{lo}' AND '{hi}' "
            "GROUP BY campaign_id ORDER BY metrics_cost_micros DESC, campaign_id ASC LIMIT 10",
            True,
        )
    raise ValueError(f"unknown lookup shape {shape!r}")


def _lookup_block(rng: random.Random, block: int, first_rid: int,
                  issued: list[Request]) -> list[Request]:
    shapes = list(LOOKUP_FRESH)
    rng.shuffle(shapes)
    seen = {r.text for r in issued}
    fresh = []
    for shape in shapes:
        text, oracle, agg = _lookup(shape, rng)
        while text in seen:  # a first-seen text must miss the cache
            text, oracle, agg = _lookup(shape, rng)
        seen.add(text)
        fresh.append((shape, text, oracle, agg))
    # Repeats re-issue texts of earlier blocks (block 0: of its own, placed last).
    pool = [(r.shape, r.text, r.oracle_sql, r.implicit_agg) for r in issued] or fresh
    repeats = [pool[rng.randrange(len(pool))] for _ in range(LOOKUP_REPEATS)]
    order = fresh + repeats
    if issued:
        rng.shuffle(order)
    return [
        Request(first_rid + i, block, shape, text, oracle, agg)
        for i, (shape, text, oracle, agg) in enumerate(order)
    ]


def _report_block(rng: random.Random, block: int, first_rid: int,
                  issued: list[Request]) -> list[Request]:
    seen = {r.window for r in issued if r.shape.startswith("agg_report")}
    combos = [(kind, sink) for kind, sinks in REPORT_SINKS.items() for sink in sinks]
    combos += [(name, sink) for name, sink in EXPORT_ENTRIES.items()]
    rng.shuffle(combos)
    out = []
    for i, (kind, sink) in enumerate(combos):
        rid = first_rid + i
        if kind in EXPORT_ENTRIES:
            out.append(Request(rid, block, f"export/{kind}/{sink}", kind, sink=sink, entry=True))
        elif kind == "agg_report":
            lo, hi = _window(rng, REPORT_AGG_DAYS)
            while (lo, hi) in seen:  # every report text is unique
                lo, hi = _window(rng, REPORT_AGG_DAYS)
            seen.add((lo, hi))
            text = (
                "SELECT segments.date, campaign.id, campaign.status, metrics.impressions, "
                "metrics.clicks, metrics.cost_micros FROM ads_row "
                f"WHERE segments.date BETWEEN '{lo}' AND '{hi}'"
            )
            oracle = (
                "SELECT segments_date, campaign_id, campaign_status, "
                "CAST(SUM(metrics_impressions) AS BIGINT) AS metrics_impressions, "
                "CAST(SUM(metrics_clicks) AS BIGINT) AS metrics_clicks, "
                "CAST(SUM(metrics_cost_micros) AS BIGINT) AS metrics_cost_micros "
                f"FROM ({{ads_flat}}) WHERE segments_date BETWEEN '{lo}' AND '{hi}' "
                "GROUP BY segments_date, campaign_id, campaign_status"
            )
            out.append(Request(rid, block, f"{kind}/{sink}", text, oracle, True, sink, (lo, hi)))
        else:
            lo, hi = _window(rng, REPORT_DETAIL_DAYS)
            text = (
                f"PROJECT {', '.join(DETAIL_PATHS)} MAP account_id=customer.id, "
                f"report='perfbench', meta={{day=segments.date, tag={rid}}} "
                f"FROM ads_row WHERE segments.date BETWEEN '{lo}' AND '{hi}'"
            )
            oracle = (
                "SELECT customer_id, campaign_id, campaign_name, ad_group_id, segments_date, "
                "metrics_clicks, metrics_cost_micros, metrics_conversions, "
                "customer_id AS account_id, 'perfbench' AS report, "
                f"segments_date AS meta_day, CAST({rid} AS BIGINT) AS meta_tag "
                f"FROM ({{ads_flat}}) WHERE segments_date BETWEEN '{lo}' AND '{hi}'"
            )
            out.append(Request(rid, block, f"{kind}/{sink}", text, oracle, False, sink, (lo, hi)))
    return out


def _corpus_block(rng: random.Random, block: int, first_rid: int) -> list[Request]:
    names = list(CORPUS_ENTRIES)
    rng.shuffle(names)
    return [Request(first_rid + i, block, n, n, entry=True) for i, n in enumerate(names)]


def generate(workload: str, seed: int, blocks: int, stream: str = "timed") -> list[Request]:
    """The first ``blocks`` blocks of the request stream of ``workload``
    for ``seed``. ``stream`` names an independent stream of the same
    workload (the untimed warm-up pass uses ``"warmup"``)."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    rng = random.Random(f"{workload}/{stream}/{seed}")
    out: list[Request] = []
    for b in range(blocks):
        if workload == "gaql_lookup":
            out += _lookup_block(rng, b, len(out), out)
        elif workload == "report_export":
            out += _report_block(rng, b, len(out), out)
        else:
            out += _corpus_block(rng, b, len(out))
    return out
