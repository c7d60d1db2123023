"""Training-data pipeline operations over document/embedding tables:
deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity
search (brute-force cosine top-k, LSH-bucketed ANN), text analysis
(token counts, quality scoring, language-ID, fingerprinting), and
multimodal binary-column plumbing.

Most operators stay JVM-side (built-in pyspark.sql.functions). The
exceptions cross into Python a whole Arrow batch at a time, never per
row: Series pandas UDFs for language-ID (textstats), Unicode
normalization (normalize) and image hashes (phash), and
``pipeline.stages.map_rows`` for the parsers of robots.txt, EXIF and
media payloads (robots, exif, multimodal).
"""
