"""pdf_extractor_spark — a from-scratch PySpark-native document-extraction
analytics engine with the query semantics of danielchaves22/pdf-extractor.

The reference is a single-process desktop tool with two extraction
engines (its checkout is not vendored; ``oracle_ref.py`` is the
executable stand-in for its semantics):

* Engine 1 — line/regex extraction over page *text* ("Recibo Modelo 1"
  payroll sheets), reference ``pdf_processor_core.py``.
* Engine 2 — positional/layout extraction over page *word boxes*
  ("Ficha Financeira" quadrimester tables), reference
  ``processors/ficha_financeira_processor.py``.

This package re-expresses both as idiomatic Spark dataflows over a
Common-Crawl-style pages table ``(url, warc_ts, html, text, lang)``:
all relational rules are built-in DataFrame ops (Catalyst-optimized),
and the Python kernels are Arrow-batched parsers. The extraction job
runs them in one ``mapInArrow`` document pass (``docpass.py``).
"""

__version__ = "0.1.0"
