"""Engine dispatch, engine-args compiler, and chain-order semantics.

Parity targets in the reference:
- Engine enum + permissive decode (/root/reference/ocr_engine.go:10-16,45-75):
  engine may arrive as string or int; unknown STRINGS default to MOCK
  (ocr_engine.go:58-60); a missing engine field means the zero value =
  TESSERACT (Go struct zero value of OcrEngineType).
- Engine-args extraction (/root/reference/tesseract_engine.go:23-75):
  ``config_vars`` (string map, wrong-typed values are errors), ``psm``
  (string), ``lang`` (string); nil engine_args is valid
  (tesseract_engine.go:27-29, tested tesseract_engine_test.go:46-48).
- The reference's CLI-flag export (tesseract_engine.go:79-96) has no
  twin: the kernel consumes the typed EngineArgs directly.
- Chain order (/root/reference/ocr_request.go:21-31): nextPreprocessor pops
  the LAST element, so a chain executes in REVERSE list order.
- SWT preprocessor args (/root/reference/stroke_width_transform.go:70-89):
  per-stage string arg, default "1" (dark-on-light → aggressive strip).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# --- engine enum (ocr_engine.go:10-16) -----------------------------------

ENGINE_TESSERACT = "tesseract"
ENGINE_GO_TESSERACT = "go_tesseract"  # declared but factory returns nil
ENGINE_MOCK = "mock"

_ENGINE_BY_INT = {0: ENGINE_TESSERACT, 1: ENGINE_GO_TESSERACT, 2: ENGINE_MOCK}
_ENGINE_BY_NAME = {
    "TESSERACT": ENGINE_TESSERACT,
    "GO_TESSERACT": ENGINE_GO_TESSERACT,
    "MOCK": ENGINE_MOCK,
}

# apiary.apib:78-111 language enum (31 languages)
SUPPORTED_LANGS = frozenset(
    "eng ara bel ben bul ces dan deu ell fin fra heb hin ind isl ita jpn "
    "kor nld nor pol por ron rus spa swe tha tur ukr vie chi-sim chi-tra".split()
)

# preprocessor stage names (rabbit_config.go queue keys / preprocessorMap,
# preprocessor_rpc_worker.go:28-31)
PREPROCESSOR_IDENTITY = "identity"
PREPROCESSOR_STROKE_WIDTH = "stroke-width-transform"
PREPROCESSOR_CONVERT_PDF = "convert-pdf"
KNOWN_PREPROCESSORS = frozenset(
    {PREPROCESSOR_IDENTITY, PREPROCESSOR_STROKE_WIDTH, PREPROCESSOR_CONVERT_PDF}
)


def resolve_engine(value) -> str:
    """Normalize an engine spec (string/int/None) to a canonical name.

    Rules (ocr_engine.go:45-75): None/missing → tesseract (Go zero value);
    int → enum mapping, unknown int → mock; string → upper-cased name
    lookup (ocr_engine.go:50), unknown string → MOCK (the reference's
    explicit default, ocr_engine.go:58-60).
    """
    if value is None or value == "":
        return ENGINE_TESSERACT
    if isinstance(value, bool):
        return ENGINE_MOCK
    if isinstance(value, int):
        return _ENGINE_BY_INT.get(value, ENGINE_MOCK)
    return _ENGINE_BY_NAME.get(str(value).upper(), ENGINE_MOCK)


# --- engine args (tesseract_engine.go:17-96) ------------------------------


@dataclass
class EngineArgs:
    config_vars: dict[str, str] = field(default_factory=dict)
    psm: str = ""
    lang: str = ""

    @property
    def structured_output(self) -> bool:
        """hOCR-mode switch: config var tessedit_create_hocr == "1"
        (tesseract_engine_test.go:50; output discovery over ["txt","hocr"],
        tesseract_engine.go:194-262) → emit structured spans instead of
        plain text."""
        return self.config_vars.get("tessedit_create_hocr") == "1"

    @property
    def charset_override(self) -> str | None:
        """Transport-layer charset: config var ``charset`` carries the
        HTTP Content-Type charset parameter down to the HTML decode,
        where it OUTRANKS the BOM/meta sniff (WHATWG encoding sniffing
        step 1: "the user agent has information on the likely encoding
        ... from the transport layer").  Normalized through the same
        label classes as the sniff (htmltree.codec_for_label); an
        unknown label returns None and the sniff runs as if no header
        existed."""
        label = self.config_vars.get("charset")
        if not label:
            return None
        from open_ocr_spark.kernels.htmltree import codec_for_label

        return codec_for_label(label)

    @property
    def markdown_output(self) -> bool:
        """Markdown-mode switch: config var output_format == "md" — the
        engine-surface extension of the reference's output-format list
        (["txt","hocr"], tesseract_engine.go:194-262): HTML payloads emit
        structure-preserving markdown (kernels/html_markdown.py) instead
        of flattened main text. Non-HTML branches (PDF/OOXML/OCR) are
        unaffected: their extractors have no DOM to preserve."""
        return self.config_vars.get("output_format") == "md"


def parse_engine_args(engine_args: dict | None) -> EngineArgs:
    """Validate+extract typed options from the dynamic map; wrong-typed
    values raise ValueError exactly where the reference errors
    (tesseract_engine.go:38-47,56-60,65-70); absent/None map is valid
    (tesseract_engine.go:27-29)."""
    args = EngineArgs()
    if not engine_args:
        return args
    config_vars = engine_args.get("config_vars")
    if config_vars is not None:
        if not isinstance(config_vars, dict):
            raise ValueError(f"config_vars must be a map: {config_vars!r}")
        out = {}
        for k, v in config_vars.items():
            if not isinstance(v, str):
                raise ValueError(f"Could not convert configVar into string: {v!r}")
            out[str(k)] = v
        args.config_vars = out
    psm = engine_args.get("psm")
    if psm is not None:
        if not isinstance(psm, str):
            raise ValueError(f"Could not convert psm into string: {psm!r}")
        args.psm = psm
    lang = engine_args.get("lang")
    if lang is not None:
        if not isinstance(lang, str):
            raise ValueError(f"Could not convert lang into string: {lang!r}")
        args.lang = lang
    return args


# --- chain semantics (ocr_request.go:21-31) --------------------------------


def execution_order(preprocessor_chain: list[str] | None) -> list[str]:
    """The order stages actually run. The reference pops the LAST chain
    element as the next hop (ocr_request.go:27), so
    ["convert-pdf","stroke-width-transform"] runs SWT FIRST. Preserved
    verbatim: execution order = reversed list order."""
    if not preprocessor_chain:
        return []
    return list(reversed(preprocessor_chain))


def swt_aggressive(preprocessor_args: dict | None) -> bool:
    """dark_on_light flag for the SWT-recast boilerplate strip: per-stage
    arg keyed by stage name, values "1"/"0", default "1"
    (stroke_width_transform.go:70-89).

    Only the exact strings "0"/"1" are accepted; anything else (missing,
    wrong type, other values) falls back to "1" exactly as the reference
    does (stroke_width_transform.go:74-83)."""
    val = "1"
    if preprocessor_args:
        arg = preprocessor_args.get(PREPROCESSOR_STROKE_WIDTH)
        if isinstance(arg, str) and arg in ("0", "1"):
            val = arg
    return val != "0"
