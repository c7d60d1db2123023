"""open_ocr_spark — a from-scratch PySpark-native document-extraction engine.

Capabilities mirror tleyden/open-ocr (reference at /root/reference, see
SURVEY.md): per-document main-content extraction with a preprocessor chain,
engine dispatch, and error-as-value semantics — re-expressed as a batch
DataFrame pipeline whose one url-hash exchange (the latest-per-url
dedupe) feeds Python kernels over Arrow batches through one ``map_rows``
boundary, with AQE shuffles and checkpoint/resume manifests.

Layers:
- ``kernels``   pure-Python vectorized extraction (no pyspark imports)
- ``pipeline``  DataFrame composition: ingest, stages, dedupe,
                checkpoint, metrics, job
- ``dataops``   training-data operations: dedup (exact/minhash/simhash),
                similarity search, text analysis, multimodal plumbing
- ``fixtures``  deterministic synthetic pages/golden tables (seed=42)
"""

__version__ = "0.1.0"
