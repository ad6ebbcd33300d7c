"""dbpedia_spotlight_spark — a PySpark-native entity-resolution engine.

A from-scratch record-linkage pipeline with the query/data-processing
capabilities of DBpedia Spotlight (reference: dbpedia-spotlight/dbpedia-spotlight
v0.7.1), re-expressed Spark-first:

    documents --(broadcast FSA dictionary, mapInPandas)--> mentions
             --(equi-joins on stats tables)--> mention_candidates
             --(log-domain generative context scoring, pure column math)--> ctx_scores
             --(window rank + NIL gate + softmax)--> scored
             --(result filters + coreference)--> resolved
             --(clusters_by_uri: one cluster per linked URI)--> clusters

Everything is DataFrame-declarative; on `resolve` Python appears only in
the spotter's Arrow-batched mapInPandas scan. Checkpoints go to parquet
with an atomic manifest.
"""

__version__ = "0.1.0"
