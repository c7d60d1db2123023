"""DataFrame composition layer: ingest → dedupe → extract → write, plus
metrics and checkpoint/resume. All plan construction is declarative
(Catalyst-optimizable); the only JVM→Python boundary is
``stages.map_rows``, which the extraction stage runs on (SURVEY.md §3.1
recast)."""
