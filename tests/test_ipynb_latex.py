"""Jupyter-notebook and LaTeX extraction branches (r5): writer-twin
round-trips, rendering rules, error values, dispatch routing, and
ValueError-only totality on arbitrary bytes."""

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_ocr_spark.kernels.dispatch import extract_document
from open_ocr_spark.kernels.ipynb_text import (
    build_ipynb,
    extract_ipynb_text,
    is_ipynb,
)
from open_ocr_spark.kernels.latex_text import (
    build_latex,
    extract_latex_text,
    is_latex,
)

# --- notebooks ---------------------------------------------------------------


def test_ipynb_roundtrip_with_outputs():
    nb = build_ipynb(
        [("markdown", "# Title\n\nProse café."),
         ("code", "x = 1\nprint(x)"),
         ("raw", "raw block")],
        outputs={1: [
            {"output_type": "stream", "name": "stdout", "text": ["1\n"]},
            {"output_type": "execute_result", "execution_count": 1,
             "metadata": {}, "data": {"text/plain": "1"}},
        ]},
    )
    assert is_ipynb(nb)
    assert extract_ipynb_text(nb) == (
        "# Title\n\nProse café.\n\nx = 1\nprint(x)\n\n1\n\n1\n\nraw block"
    )


def test_ipynb_source_string_and_list_are_wire_equivalent():
    src = "line one\nline two\n"
    as_str = json.dumps({"nbformat": 4, "cells": [
        {"cell_type": "markdown", "metadata": {}, "source": src}]}).encode()
    as_list = json.dumps({"nbformat": 4, "cells": [
        {"cell_type": "markdown", "metadata": {},
         "source": ["line one\n", "line two\n"]}]}).encode()
    assert extract_ipynb_text(as_str) == extract_ipynb_text(as_list)


def test_ipynb_binary_and_error_outputs():
    nb = json.dumps({"nbformat": 4, "cells": [{
        "cell_type": "code", "metadata": {}, "source": "boom()",
        "outputs": [
            {"output_type": "display_data",
             "data": {"image/png": "aGk=", "text/plain": "<Figure>"}},
            {"output_type": "error", "ename": "ZeroDivisionError",
             "evalue": "division by zero",
             "traceback": ["\x1b[31mnoise\x1b[0m"]},
        ]}]}).encode()
    # image data is skipped, text/plain and ename:evalue render,
    # traceback frames (ANSI noise) do not
    assert extract_ipynb_text(nb) == (
        "boom()\n\n<Figure>\n\nZeroDivisionError: division by zero"
    )


def test_ipynb_empty_and_whitespace_cells_skipped():
    nb = build_ipynb([("markdown", ""), ("code", "   \n"),
                      ("markdown", "kept")])
    assert extract_ipynb_text(nb) == "kept"


def test_is_ipynb_rejects_other_json_and_html():
    assert not is_ipynb(b'{"@type": "Thing", "name": "x"}')
    assert not is_ipynb(b'{"nbformat": "4", "cells": []}')  # nbformat str
    assert not is_ipynb(b'{"nbformat": 4, "cells": {}}')    # cells not list
    assert not is_ipynb(b"[1, 2, 3]")
    assert not is_ipynb(b"<html><body>nbformat cells</body></html>")
    assert not is_ipynb(b"not json at all nbformat")


def test_ipynb_cell_cap_is_valueerror():
    cells = [{"cell_type": "raw", "source": ""}] * 10_001
    nb = json.dumps({"nbformat": 4, "cells": cells}).encode()
    with pytest.raises(ValueError, match="cell count"):
        extract_ipynb_text(nb)


def test_dispatch_routes_ipynb():
    nb = build_ipynb([("markdown", "Hello nb.")])
    text, status, err = extract_document(nb)
    assert (text, status, err) == ("Hello nb.", "ok", "")


@settings(max_examples=100, deadline=None)
@given(st.lists(
    st.tuples(st.sampled_from(["markdown", "code", "raw"]),
              st.text(alphabet="ab \nç#", max_size=40)),
    max_size=6,
))
def test_ipynb_differential_against_stdlib_json(cells):
    """The writer twin (stdlib json + keepends split) and the extractor
    (stdlib json + join) are exact inverses for any cell list."""
    expected = "\n\n".join(
        s.rstrip("\n") for _, s in cells if s.strip()
    )
    assert extract_ipynb_text(build_ipynb(cells)) == expected


# --- latex -------------------------------------------------------------------


def test_latex_roundtrip_fixture():
    doc = build_latex(
        ["Alpha café 7 --- with 100\\% effort.",
         "Beta ``quote 2'' and \\emph{stress} words."],
        title="Paper 3", sections=True, math="E_1 = m c^2",
    )
    assert is_latex(doc)
    assert extract_latex_text(doc) == (
        "Paper 3\n\nAlpha café 7 \u2014 with 100% effort.\n\nPart 1\n\n"
        "Beta \u201cquote 2\u201d and stress words.\n\nE_1 = m c^2"
    )


def test_latex_comment_eats_newline():
    doc = (b"\\documentclass{article}\n\\begin{document}\n"
           b"foo%comment\nbar\n\\end{document}")
    assert extract_latex_text(doc) == "foobar"


def test_latex_escaped_percent_survives():
    doc = (b"\\documentclass{article}\n\\begin{document}\n"
           b"50\\% of it % gone\n\\end{document}")
    assert extract_latex_text(doc) == "50% of it"


def test_latex_items_and_verbatim_and_tabular():
    doc = (
        b"\\documentclass{article}\n\\begin{document}\n"
        b"\\begin{itemize}\\item one\\item two\\end{itemize}\n"
        b"\\begin{verbatim}\nkeep   spacing\n\\end{verbatim}\n"
        b"\\begin{tabular}{ll} a & b \\\\ c & d \\end{tabular}\n"
        b"\\end{document}"
    )
    out = extract_latex_text(doc)
    assert "one\n\ntwo" in out
    assert "keep   spacing" in out  # verbatim spacing preserved
    # column spec {ll} is layout, & separators become spaces, rows
    # whitespace-collapse inside the one tabular paragraph
    assert "a b c d" in out


def test_latex_unknown_command_drops_group_renders():
    doc = (b"\\documentclass{article}\n\\begin{document}\n"
           b"\\weird pre {group text} post \\cite{x2024} end\n"
           b"\\end{document}")
    assert extract_latex_text(doc) == "pre group text post end"


def test_latex_inline_and_display_math():
    doc = (b"\\documentclass{article}\n\\begin{document}\n"
           b"Euler: $e^{i\\pi} = -1$ holds.\n\n"
           b"\\[ \\sum_{k} x_k \\]\n\\end{document}")
    out = extract_latex_text(doc)
    assert "Euler: e^{i\\pi} = -1 holds." in out
    assert "\\sum_{k} x_k" in out


def test_latex_no_body_is_valueerror_and_dispatch_error_value():
    doc = b"\\documentclass{article}\nno body here"
    with pytest.raises(ValueError, match="begin"):
        extract_latex_text(doc)
    text, status, err = extract_document(doc)
    assert status == "error:latex-unsupported" and "begin" in err


def test_latex_truncated_body_extracts_to_eof():
    doc = (b"\\documentclass{article}\n\\begin{document}\n"
           b"truncated crawl payload")
    assert extract_latex_text(doc) == "truncated crawl payload"


def test_is_latex_comment_led_and_rejections():
    assert is_latex(b"% arXiv header\n% more\n\\documentclass[12pt]{book}\n")
    assert not is_latex(b"<html>\\documentclass</html>")
    assert not is_latex(b"plain text\n\\documentclass{article}")
    assert not is_latex(b"")


def test_dispatch_routes_latex():
    doc = build_latex(["Routed body."])
    text, status, err = extract_document(doc)
    assert (text, status, err) == ("Routed body.", "ok", "")


# --- totality ----------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(payload=st.binary(max_size=2048))
def test_ipynb_latex_parsers_raise_only_valueerror(payload):
    assert is_ipynb(payload) in (True, False)
    assert is_latex(payload) in (True, False)
    for fn in (extract_ipynb_text, extract_latex_text):
        try:
            fn(payload)
        except ValueError:
            pass


@settings(max_examples=100, deadline=None)
@given(payload=st.binary(max_size=2048))
def test_dispatch_total_on_notebook_and_tex_prefixes(payload):
    for prefix in (b'{"nbformat": 4, "cells": ',
                   b"\\documentclass{article}\n\\begin{document}\n"):
        text, status, _ = extract_document(prefix + payload)
        assert isinstance(text, str)
        assert status == "ok" or status.startswith("error:")


# --- post-review hardening regressions ---------------------------------------


def test_latex_nul_sentinel_injection_is_inert():
    # a crafted \x00<idx>\x00 in the INPUT must neither crash the
    # un-parking nor substitute parked content
    doc = (b"\\documentclass{article}\n\\begin{document}\n"
           b"A \x000\x00 B\n\\end{document}")
    assert extract_latex_text(doc) == "A 0 B"
    doc2 = (b"\\documentclass{article}\n\\begin{document}\n"
            b"\\begin{verbatim}\nSECRET\n\\end{verbatim}\n"
            b"X \x000\x00 Y\n\\end{document}")
    out = extract_latex_text(doc2)
    assert out.count("SECRET") == 1
    assert "X 0 Y" in out


def test_latex_percent_inside_verbatim_is_content():
    doc = (b"\\documentclass{article}\n\\begin{document}\n"
           b"\\begin{verbatim}\nprintf(\"100%d done\");\nnext line\n"
           b"\\end{verbatim}\n\\end{document}")
    assert extract_latex_text(doc) == 'printf("100%d done");\nnext line'


def test_latex_tabular_star_width_and_spec_are_layout():
    doc = (b"\\documentclass{article}\n\\begin{document}\n"
           b"\\begin{tabular*}{10cm}{ll} a & b \\\\ c & d \\end{tabular*}\n"
           b"\\end{document}")
    out = extract_latex_text(doc)
    assert "10cm" not in out and "ll" not in out
    assert "a b c d" in out


def test_latex_commented_verbatim_opener_in_preamble():
    doc = (b"\\documentclass{article}\n% \\begin{verbatim}\n"
           b"\\begin{document}\nBody text.\n\\end{document}")
    assert extract_latex_text(doc) == "Body text."


def test_latex_commented_verbatim_opener_in_body():
    doc = (b"\\documentclass{article}\n\\begin{document}\n"
           b"Before % \\begin{verbatim} \\begin{verbatim}\nafter text\n"
           b"\\begin{verbatim}\n  100% kept\n\\end{verbatim}\n"
           b"\\end{document}")
    assert extract_latex_text(doc) == "Before after text\n\n  100% kept"


def test_latex_escaped_ampersand_in_tabular_is_content():
    doc = (b"\\documentclass{article}\n\\begin{document}\n"
           b"\\begin{tabular}{ll} AT\\&T & Corp \\end{tabular}\n"
           b"\\end{document}")
    assert extract_latex_text(doc) == "AT&T Corp"
