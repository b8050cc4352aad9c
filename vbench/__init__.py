"""Benchmark for pinecone_datasets_spark: seeded closed-loop workloads (see run.py)."""
