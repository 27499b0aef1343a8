"""Engine extension operators for large-scale training-data pipelines
(SURVEY §2.4): deduplication, similarity search, text analysis, subword
tokenization, corpus curation, multimodal codecs (image/audio/video),
as-of joins, skew-safe aggregation, and raw-corpus ingestion (WARC/HTML)."""

import importlib

__all__ = [
    "asof",
    "curation",
    "dedup",
    "ingest",
    "jpegcodec",
    "multimodal",
    "similarity",
    "skew",
    "text",
    "tokenize",
]


def __getattr__(name):
    # Lazy (PEP 562): a Python worker unpickling one operator's UDF body
    # imports that module alone, not every operator module.
    if name in __all__:
        return importlib.import_module(f".{name}", __name__)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
