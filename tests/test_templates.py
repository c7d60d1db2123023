"""Host-level template-line removal (dataops/templates.py): threshold
semantics, order preservation, within-doc repeat counting, and
partitioning invariance."""

from pyspark.sql import functions as F

from open_ocr_spark.dataops.templates import strip_template_lines


def _docs(spark, rows):
    return spark.createDataFrame(rows, "host string, doc_id long, text string")


def _clean(df):
    return {
        r.doc_id: (r.clean_text, r.n_kept, r.n_removed)
        for r in df.collect()
    }


def test_template_removed_order_preserved(spark):
    # 4 docs on one host, nav on all 4 (>= min_docs 3, >= 1/2) -> removed
    rows = [
        ("a", i, f"NAV\nbody {i}\nmid {i}\nNAV") for i in range(4)
    ]
    out = _clean(strip_template_lines(_docs(spark, rows)))
    assert out[0] == ("body 0\nmid 0", 2, 2)
    assert out[3] == ("body 3\nmid 3", 2, 2)


def test_min_docs_floor(spark):
    # only 2 docs share the line -> below min_docs=3 -> kept
    rows = [("a", 0, "SHARED\nx"), ("a", 1, "SHARED\ny"), ("a", 2, "z")]
    out = _clean(strip_template_lines(_docs(spark, rows)))
    assert out[0] == ("SHARED\nx", 2, 0)


def test_fraction_boundary_exact(spark):
    # 6 docs; line on 3 of them = exactly 1/2 -> removed (>=); line on
    # 2 of them (1/3) -> kept even though min_docs is satisfied at 2? no:
    # min_docs=2 here to isolate the fraction rule
    rows = [
        ("a", i, ("HALF\n" if i < 3 else "") + ("THIRD\n" if i < 2 else "") + f"b{i}")
        for i in range(6)
    ]
    out = _clean(strip_template_lines(_docs(spark, rows), min_docs=2))
    assert out[0][0] == "THIRD\nb0"      # HALF removed, THIRD kept
    assert out[5][0] == "b5"


def test_within_doc_repeats_count_once(spark):
    # the line repeats 5x inside ONE doc but exists on only 2 docs ->
    # distinct-doc evidence is 2 < min_docs 3 -> kept everywhere
    rows = [
        ("a", 0, "\n".join(["DUP"] * 5)),
        ("a", 1, "DUP\nx"),
        ("a", 2, "y"),
    ]
    out = _clean(strip_template_lines(_docs(spark, rows)))
    assert out[0] == ("\n".join(["DUP"] * 5), 5, 0)


def test_host_scoping(spark):
    # same line on every doc of host a (removed there) and on ONE doc of
    # host b (kept there): evidence never crosses hosts
    rows = [("a", i, f"TPL\nbody {i}") for i in range(3)]
    rows += [("b", 10 + i, ("TPL\n" if i == 0 else "") + f"bb {i}") for i in range(3)]
    out = _clean(strip_template_lines(_docs(spark, rows)))
    assert out[0][0] == "body 0"
    assert out[10][0] == "TPL\nbb 0"


def test_blank_lines_never_template(spark):
    rows = [("a", i, f"x {i}\n\ny {i}") for i in range(4)]
    out = _clean(strip_template_lines(_docs(spark, rows)))
    assert out[0] == ("x 0\n\ny 0", 3, 0)


def test_partitioning_invariance(spark):
    rows = [
        ("h%d" % (i % 3), i, f"NAV {i % 3}\nbody {i}\n(c) foot {i % 3}")
        for i in range(30)
    ]
    base = _docs(spark, rows)
    a = _clean(strip_template_lines(base.repartition(1)))
    b = _clean(strip_template_lines(base.repartition(13, "doc_id")))
    assert a == b


def test_pin_option_identical_results(spark):
    """A caller whose input is an expensive subtree pins (checkpoints) it
    before the strip; the result is the same as on the lazy input."""
    rows = [
        ("h%d" % (i % 2), i, f"NAV {i % 2}\nbody {i}") for i in range(12)
    ]
    base = _docs(spark, rows)
    assert _clean(strip_template_lines(base.localCheckpoint(eager=True))) == _clean(
        strip_template_lines(base)
    )
