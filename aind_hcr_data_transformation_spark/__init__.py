"""aind_hcr_data_transformation_spark — a PySpark-native engine with the
query and data-processing capabilities of
AllenNeuralDynamics/aind-hcr-data-transformation (reference read-only at
/root/reference), re-expressed Spark-first.

Two layers (see /root/repo/SURVEY.md):

1. **Relational core** — pure DataFrame/SQL operators over the synthetic
   TPC-H-ish tables (joins, aggregations, window functions, sorts, set ops,
   scalar-function families, event-time windows), each differential-tested
   against a DuckDB oracle.

2. **Pipeline layer** — the reference's actual capability (CZI image stacks →
   multiscale OME-Zarr: partitioned scan → blocked read → windowed-mean
   pyramid → chunked compressed sink + OME-NGFF metadata) re-expressed with
   Spark's execution model: block-index DataFrames + Arrow-native
   ``mapInArrow`` scans/sinks (voxel payloads read zero-copy from Arrow
   buffers), chunk re-tiling by JVM exchange + sort, ``groupBy``
   downsampling.
   The manual round-robin/SLURM partition plumbing of the reference
   (``zeiss_job.py:29-60``) is replaced by Spark's scheduler.

Plus LLM-data-pipeline extensions designed for 100 TB scale: exact,
near-duplicate, and semantic dedup (MinHash/LSH with an xxhash64
production twin, SimHash, n-gram Jaccard, CDC paragraph chunks,
SemDeDup), embedding similarity search (brute force, sign-LSH, IVF) and
RAG context assembly, data selection (DSIR importance, quality
classifier, token-budget mixing), multimodal binary-column plumbing,
text analysis, and a streaming ingest quality gate.
"""

__version__ = "0.1.0"
