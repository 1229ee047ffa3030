"""Benchmark of the Iceberg -> OCR -> reweave -> commit pipeline."""
