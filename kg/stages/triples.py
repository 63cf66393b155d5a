"""Stage 3: OpenIE triple extraction + mention/token columns, one Arrow pass.

Per-doc NLP (SVO pattern extraction, NER-backend mention detection,
tokenization) fuses into a single ``mapInPandas`` over docs — one Python
round-trip per partition batch instead of three (SURVEY.md §3 E1-E3 fuse the
same way). Everything downstream of this stage is relational again.

Scale notes:
- input pruned to (url, text): the html column must already be gone.
- stateless per doc -> no shuffle; output partitioning inherits the input,
  which run_pipeline pre-buckets by pmod(xxhash64(url), B) for checkpointing.
- the extractor is pure Python but Arrow-batched; per-batch overhead is
  amortized over maxRecordsPerBatch rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from kg.openie import extract_triples

TRIPLES_SCHEMA = "url string, subj string, pred string, obj string, conf double"


def _triples_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        urls, subjs, preds, objs = [], [], [], []
        for url, text in zip(pdf["url"], pdf["text"]):
            for s, p, o in extract_triples(text or ""):
                urls.append(url)
                subjs.append(s)
                preds.append(p)
                objs.append(o)
        yield pd.DataFrame(
            {
                "url": urls,
                "subj": subjs,
                "pred": preds,
                "obj": objs,
                "conf": [1.0] * len(urls),
            }
        )


def extract_svo_triples(docs: DataFrame) -> DataFrame:
    """docs(url, text, ...) -> triples(url, subj, pred, obj, conf)."""
    return docs.select("url", "text").mapInPandas(
        _triples_batches, schema=TRIPLES_SCHEMA
    )


def _polar_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from kg.openie import extract_triples_polar

    for pdf in batches:
        rows = []
        for url, text in zip(pdf["url"], pdf["text"]):
            for s, p, o, pol in extract_triples_polar(text or ""):
                rows.append((url, s, p, o, pol))
        yield pd.DataFrame(
            rows, columns=["url", "subj", "pred", "obj", "polarity"]
        )


def extract_svo_triples_polar(docs: DataFrame) -> DataFrame:
    """Polarity-aware SVO extraction: (url, subj, pred, obj, polarity)
    with polarity -1 for negated assertions (kg/openie.py
    NEGATION_PATTERNS — tried first, so "X never acquired Y" becomes a
    clean negative fact instead of a corrupted positive one). Same
    single-Arrow-pass shape as extract_svo_triples."""
    return docs.select("url", "text").mapInPandas(
        _polar_batches,
        schema="url string, subj string, pred string, obj string,"
        " polarity int",
    )


def _pages_to_triples_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from kg.textextract import extract_text

    for pdf in batches:
        urls, subjs, preds, objs = [], [], [], []
        for url, html in zip(pdf["url"], pdf["html"]):
            for s, p, o in extract_triples(extract_text(html)):
                urls.append(url)
                subjs.append(s)
                preds.append(p)
                objs.append(o)
        yield pd.DataFrame(
            {
                "url": urls,
                "subj": subjs,
                "pred": preds,
                "obj": objs,
                "conf": [1.0] * len(urls),
            }
        )


def extract_triples_from_pages(pages: DataFrame) -> DataFrame:
    """Fused pages(url, html) -> triples: HTML extraction + SVO in ONE
    Arrow pass. Two chained mapInPandas stages each spawn their own Python
    worker per task (2x processes, 2x Arrow hops); fusing halves both —
    use this when the intermediate docs table is not needed downstream."""
    return pages.select("url", "html").mapInPandas(
        _pages_to_triples_batches, schema=TRIPLES_SCHEMA
    )


NER_MENTIONS_SCHEMA = (
    "url string, value string, label string, category string, start int, end int"
)


def _worker_peak_mb() -> float:
    """This Python worker's RSS high-water mark in MB (ru_maxrss is KB on
    Linux) — sampled INSIDE the stage batch, so attribution is correct on
    any cluster topology (O23; cf. kg/checkpoint.py capture_metrics)."""
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _make_ner_batches(
    custom_entities: dict[str, str] | None,
    backend_name: str,
    factory,
    minimal_mode: bool,
    generation: int,
    capture_errors: bool = False,
    capture_metrics: bool = False,
):
    def _ner_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # lazy import keeps worker bootstrap light when only triples are needed
        from kg.backends import get_backend_cached
        from kg.errors import format_error

        cols = ["url", "value", "label", "category", "start", "end"]
        if capture_errors:
            cols.append("error")
        if capture_metrics:
            cols.append("peak_mb")
        for pdf in batches:
            rows = []
            langs = pdf["lang"] if "lang" in pdf.columns else ["en"] * len(pdf)
            for url, text, lang in zip(pdf["url"], pdf["text"], langs):
                lang = lang or "en"
                try:
                    # per-(lang, mode) lazy singleton per worker process (O18)
                    be = get_backend_cached(
                        backend_name, factory, lang, minimal_mode, generation
                    )
                    mentions = be.detect(text or "", lang=lang,
                                         custom_entities=custom_entities)
                except Exception as exc:  # noqa: BLE001 — O21 row capture
                    if not capture_errors:
                        raise
                    rows.append(
                        (url, None, None, None, None, None, format_error(exc))
                    )
                    continue
                for m in mentions:
                    row = (url, m.value, m.label, m.category, m.start, m.end)
                    rows.append(row + (None,) if capture_errors else row)
            if capture_metrics:
                # sampled AFTER the batch's work: the per-batch high-water mark
                peak = _worker_peak_mb()
                rows = [r + (peak,) for r in rows]
            yield pd.DataFrame(rows, columns=cols)

    return _ner_batches


def detect_ner_mentions(
    docs: DataFrame,
    custom_entities: dict[str, str] | None = None,
    backend: str = "rule",
    minimal_mode: bool = False,
    capture_errors: bool = False,
    capture_metrics: bool = False,
) -> DataFrame:
    """NER mentions with char offsets (O1+O2), Arrow-batched, with the
    detector backend selected through the O18 registry (kg/backends.py):
    the backend instance is a lazy per-worker singleton keyed by
    (backend, lang, minimal_mode, generation), selected per ``lang`` column
    value; ``kg.backends.reload_backends()`` invalidates worker caches for
    plans built afterwards (reference: spacy_wrapper.py:80-116 registry +
    server.py:290-303 reload).

    ``custom_entities`` ({phrase: entity_key}) adds the custom phrase matcher
    + overlap resolution (O3+O4: longer token-span wins, tie -> custom) to
    the same per-doc pass; the dict rides into the workers via closure
    serialization (broadcast-small by contract).

    ``capture_errors=True`` (O21): a doc whose backend lookup or detect()
    raises (e.g. unsupported lang, a buggy custom backend) becomes one row
    with null mention fields and an ``error`` column instead of failing the
    stage — split with kg.errors.split_errors.

    ``capture_metrics=True`` (O23): each batch also emits this worker's RSS
    high-water mark in a ``peak_mb`` column, sampled inside the stage's own
    UDF (correct on any cluster topology) — CheckpointedPipeline takes the
    max from the written files' footer statistics into the metrics table.
    """
    from kg.backends import resolve_backend

    factory, generation = resolve_backend(backend)
    cols = [c for c in ("url", "text", "lang") if c in docs.columns]
    schema = (
        NER_MENTIONS_SCHEMA
        + (", error string" if capture_errors else "")
        + (", peak_mb double" if capture_metrics else "")
    )
    return docs.select(*cols).mapInPandas(
        _make_ner_batches(custom_entities, backend, factory, minimal_mode,
                          generation, capture_errors, capture_metrics),
        schema=schema,
    )


TOKENS_SCHEMA = "url string, tokens array<string>"


def tokenize_docs(
    docs: DataFrame, filter_ents: bool = False, sw_size: str = "small"
) -> DataFrame:
    """Tokenizer pipeline (O5-O9) as a column: docs -> (url, tokens)."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from kg.tokenize import tokenize

        for pdf in batches:
            langs = pdf["lang"] if "lang" in pdf.columns else ["en"] * len(pdf)
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "tokens": [
                        tokenize(t or "", filter_ents, sw_size, lang or "en")
                        for t, lang in zip(pdf["text"], langs)
                    ],
                }
            )

    cols = [c for c in ("url", "text", "lang") if c in docs.columns]
    return docs.select(*cols).mapInPandas(_batches, schema=TOKENS_SCHEMA)


ANNOTATIONS_SCHEMA = (
    "url string, "
    "triples array<struct<subj:string,pred:string,obj:string>>, "
    "mentions array<struct<value:string,label:string,category:string,"
    "start:int,end:int>>, "
    "tokens array<string>"
)


def annotate_pages(
    pages: DataFrame,
    custom_entities: dict[str, str] | None = None,
    backend: str = "rule",
    minimal_mode: bool = False,
    filter_ents: bool = True,
    sw_size: str = "large",
    capture_errors: bool = False,
    capture_metrics: bool = False,
) -> DataFrame:
    """FUSED per-page annotation: pages(url, html, lang) -> one row per page
    with SVO triples, NER mentions and the token pipeline from a SINGLE
    Arrow pass — HTML is extracted once and every per-doc analysis shares
    it inside one Python worker round-trip (three chained mapInPandas
    stages would spawn 3x workers and ship the text across Arrow 3x;
    SURVEY.md §3 E1-E3). Downstream consumers explode the array they need;
    everything after this stage is relational.

    Uses the O18 backend registry for NER (per-worker singletons keyed by
    lang) exactly like detect_ner_mentions.

    ``capture_errors=True`` (O21, same contract as detect_ner_mentions): a
    page whose extraction/backend/analysis raises — e.g. a lang outside the
    backend's supported set, or a buggy pluggable backend — becomes one row
    with null annotation arrays and an ``error`` column instead of aborting
    the whole fused stage; split with kg.errors.split_errors.
    ``capture_metrics=True`` (O23): per-batch worker ``peak_mb`` column.
    """
    from kg.backends import resolve_backend

    factory, generation = resolve_backend(backend)

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from kg.backends import get_backend_cached
        from kg.errors import format_error
        from kg.openie import extract_triples
        from kg.textextract import extract_text
        from kg.tokenize import tokenize

        cols = ["url", "triples", "mentions", "tokens"]
        if capture_errors:
            cols.append("error")
        if capture_metrics:
            cols.append("peak_mb")
        for pdf in batches:
            rows = []
            langs = pdf["lang"] if "lang" in pdf.columns else ["en"] * len(pdf)
            for url, html, lang in zip(pdf["url"], pdf["html"], langs):
                lang = lang or "en"
                try:
                    text = extract_text(html)
                    be = get_backend_cached(
                        backend, factory, lang, minimal_mode, generation
                    )
                    row = (
                        url,
                        [tuple(t) for t in extract_triples(text)],
                        [
                            (m.value, m.label, m.category, m.start, m.end)
                            for m in be.detect(
                                text, lang=lang, custom_entities=custom_entities
                            )
                        ],
                        tokenize(text, filter_ents, sw_size, lang),
                    )
                except Exception as exc:  # noqa: BLE001 — O21 row capture
                    if not capture_errors:
                        raise
                    rows.append((url, None, None, None, format_error(exc)))
                    continue
                rows.append(row + (None,) if capture_errors else row)
            if capture_metrics:
                peak = _worker_peak_mb()
                rows = [r + (peak,) for r in rows]
            yield pd.DataFrame(rows, columns=cols)

    schema = (
        ANNOTATIONS_SCHEMA
        + (", error string" if capture_errors else "")
        + (", peak_mb double" if capture_metrics else "")
    )
    cols = [c for c in ("url", "html", "lang") if c in pages.columns]
    return pages.select(*cols).mapInPandas(_batches, schema=schema)
