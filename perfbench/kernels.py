"""Single-threaded kernel microbench, run in the driver on a fixed sample.

Walks each page through the fused UDF's per-page path and times every
kernel call it makes; ``jsonld_to_triples_ex`` and ``skolemize_terms`` are
timed in a second call on the same document, made the way ``doc_to_quads``
makes them (``skolemize_terms`` only for documents that minted a blank
node). The two ratios are measured where that work happens:

* ``ntriples.term_cache_hit_ratio`` -- hits / lookups of the strict term
  gate's LRU cache over the sample (cleared first);
* ``skolem.skip_ratio`` -- converted JSON-LD docs minting no blank node /
  converted JSON-LD docs.

The sample is ``datagen.page_for(i, 0.3)`` over the first ``n`` ids of the
seed's window, so it includes the microdata/RDFa pages of ``fused_mixed``.
"""

from __future__ import annotations

import json
import statistics
import time

KERNELS = [
    "functions.html_extract.extract_document",
    "operators.triples.doc_to_quads",
    "functions.jsonld.jsonld_to_triples_ex",
    "functions.skolem.skolemize_terms",
    "operators.structured_extract.page_structured_quads",
]
# error codes on which the fused UDF falls back to microdata/RDFa
FALLBACK_ERRORS = ("no_jsonld", "json_parse", "jsonld_convert", "empty_graph")


def kernel_metric_names() -> list[str]:
    return [f"{k}.{q}" for k in KERNELS for q in ("us_p50", "us_p99")] + [
        "ntriples.term_cache_hit_ratio", "skolem.skip_ratio"]


def _pct(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def run(first: int, n: int) -> tuple[dict[str, float], float]:
    """Returns (metrics, mean kernel microseconds per page) -- the second is
    what one page costs the fused UDF in pure kernel time."""
    from nabu_spark.datagen import page_for
    from nabu_spark.functions.html_extract import OK, extract_document
    from nabu_spark.functions.jsonld import (
        JsonLdError, jsonld_to_triples_ex, standardize_jsonld_context,
    )
    from nabu_spark.functions.ntriples import _term_is_valid_cached
    from nabu_spark.functions.skolem import skolemize_terms
    from nabu_spark.functions.urn import object_key
    from nabu_spark.operators.structured_extract import page_structured_quads
    from nabu_spark.operators.triples import doc_to_quads

    pages = [page_for(i, 0.3) for i in range(first, first + n)]
    us: dict[str, list[float]] = {k: [] for k in KERNELS}

    def timed(kernel: str, fn, *args):
        t0 = time.perf_counter_ns()
        out = fn(*args)
        us[kernel].append((time.perf_counter_ns() - t0) / 1e3)
        return out, us[kernel][-1]

    def convert(doc_text: str) -> None:
        # the two kernels inside doc_to_quads, called as it calls them:
        # skolemize_terms only when the conversion minted a blank node
        nonlocal converted, minted
        try:
            doc = json.loads(doc_text)
        except ValueError:
            return
        if not isinstance(doc, (dict, list)):
            return
        if isinstance(doc, dict) and "@context" in doc:
            doc = standardize_jsonld_context(doc)
        try:
            (triples, bnodes), _ = timed("functions.jsonld.jsonld_to_triples_ex",
                                         jsonld_to_triples_ex, doc)
        except (JsonLdError, RecursionError):
            return
        converted += 1
        if bnodes:
            minted += 1
            timed("functions.skolem.skolemize_terms", skolemize_terms, triples)

    per_page: list[float] = []
    converted = minted = 0
    _term_is_valid_cached.cache_clear()
    for page in pages:
        url, body = page["url"], page["html"]
        sid = url.split("/")[2].replace(".", "_")
        # the fused UDF's per-page path (pipeline.pages_to_quads_fused with
        # fallback_structured): ``cost`` is what the page costs that UDF
        (doc_text, err), cost = timed("functions.html_extract.extract_document",
                                      extract_document, body)
        quads = None
        if err == OK:
            (quads, err, _), dt = timed("operators.triples.doc_to_quads",
                                        doc_to_quads, doc_text, object_key(sid, url))
            cost += dt
            convert(doc_text)
        if (quads is None or err) and err in FALLBACK_ERRORS:
            _, dt = timed("operators.structured_extract.page_structured_quads",
                          page_structured_quads, body, url, sid)
            cost += dt
        per_page.append(cost)
    info = _term_is_valid_cached.cache_info()
    metrics = {}
    for k in KERNELS:
        metrics[f"{k}.us_p50"] = statistics.median(us[k])
        metrics[f"{k}.us_p99"] = _pct(us[k], 99)
    metrics["ntriples.term_cache_hit_ratio"] = info.hits / max(1, info.hits + info.misses)
    metrics["skolem.skip_ratio"] = (converted - minted) / max(1, converted)
    return metrics, statistics.fmean(per_page)
