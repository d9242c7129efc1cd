"""outcite_duplicate_detecting_spark — a from-scratch PySpark-native
near-duplicate detection and clustering engine.

Re-founds the capabilities of the reference pipeline
(OUTCITE/outcite-duplicate_detecting: Elasticsearch + SQLite + scipy blocking
and clustering scripts, see /root/reference) as idiomatic Spark DataFrame
dataflow over web-page tables, designed for 10^12-document scale:

- exact dedup via content hashing (reference analogue: SHA-1 repIDs,
  code/blocking/code/make_representations_v3.py:47-49)
- MinHash signatures + LSH band joins for Jaccard near-duplicates
- 64-bit SimHash + pigeonhole byte-block candidates for fuzzy duplicates
  (reference: code/blocking/code/simhash_components_disk_v3.py)
- winnowing-fingerprint candidates + verification for exact-substring
  duplicates (new detector per BASELINE.json north_rule)
- iterative large-star/small-star connected components (replaces all six
  scipy connected_components call sites, SURVEY.md §2.9)
- pairwise verification, canonical merging, sum-of-squares pairwise P/R
  evaluation (reference: code/common.py:73-89)

Everything is DataFrame-first: shingling/signatures run as vectorized
pandas/Arrow UDFs, candidates resolve through capped grouped hash joins,
and every stage writes a per-partition lineage manifest so the pipeline
is resumable.
"""

__version__ = "0.1.0"
