"""artexin_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the capabilities of
Othernet-Project/artexin (reference at /root/reference) over Spark
DataFrames: readability-style article extraction from HTML payloads held
in the ``text`` column of Iceberg-shaped transcript tables, expressed as
vectorized Arrow stages (``mapInArrow`` / ``arrow_udf``, never per-row
Python UDFs), with URL normalization, MD5 content hashing, token/term
indexing, skew-salted partitioning, per-partition lineage and
checkpoint-based resume.

Layout:
    dom.py          lightweight stdlib HTML DOM with source char offsets
    urlx.py         URL algebra (split/normalize/absolutize/escape/hash)
    readability.py  from-scratch Arc90-style main-content scorer
    tokenizer.py    sentence/word tokenization + term & pair counts
    preprocess.py   HTML preprocessors + URL-pattern dispatch
    udfs.py         scalar arrow_udf wrappers around the pure functions
    pipeline.py     read -> salt -> extract -> hash -> sink with lineage
    storage.py      Iceberg-shaped parquet sink + lineage/snapshot manifests
    corpus.py       deterministic synthetic transcript corpus (seed=42)
    operators/      training-data-pipeline ops (dedup, knn, text stats)
"""

__version__ = "0.1.0"
