"""entity_resolution_pipeline_spark — a from-scratch PySpark-native
entity-resolution engine.

Re-expresses the capabilities of the reference single-node pipeline
(yalelibrary-metadata-services/entity-resolution-pipeline, studied read-only at
/root/reference) as an idiomatic Spark DAG:

    web_pages (url, warc_ts, html, text, lang)
      -> preprocess (normalize, field derivation, mmh3 keys, dedup dims)
      -> blocking (normalized-name key, url-host key, MinHash/LSH bands)
      -> candidate pairs (one sorted window per block, canonical id1<id2)
      -> pairwise scoring (Arrow pandas UDF: 18 features + broadcast LR)
      -> edges (p >= 0.90, w >= 0.5)
      -> clusters (large-star/small-star connected components)
      -> evaluation (pairwise precision/recall/F1 vs labeled pairs)

Everything is DataFrame-first; Python appears only inside vectorized
pandas/Arrow UDFs (never per-row udf()).
"""

__version__ = "0.1.0"
