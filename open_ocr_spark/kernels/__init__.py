"""Pure-Python vectorized extraction kernels.

Every kernel is a plain function over Python values, so it can be
unit-tested without a SparkSession (SURVEY.md §5.2 tier 1) and shipped
to executors via ``--py-files``. The Spark side runs them through the
``map_rows`` boundary (pipeline/stages.py), the extraction stage
included. Three modules also carry a thin ``map_rows`` wrapper that
explodes one payload into rows: ``csv_text.csv_cells``,
``microdata.microdata_items`` and ``tables.html_tables``; they are the
only pyspark imports here.
"""
